"""Cache lifecycle (VERDICT r01 #8): no cached RDDs may outlive a public
operator call — caches are internal plan accelerators, not session state."""

import numpy as np
import pandas as pd
import pytest

from dbreg_spark import dbreg


def _cached_ids(spark) -> set:
    """IDs of currently persistent RDDs. Leak assertions compare ID SETS,
    not counts: earlier tests' transient localCheckpoint blocks (hot-path
    rescues hold them alive through the returned lazy plan, released by
    GC + the async ContextCleaner) may be swept mid-test, so a count
    equality races the cleaner — a new-ID check does not."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def test_minhash_lsh_releases_cache(spark, tables):
    """The shingle-hash staging uses a shuffle barrier, not .cache() — no
    persistent blocks at any point, before or after the action."""
    from dbreg_spark.operators import dedup

    before = _cached_ids(spark)
    pairs = dedup.minhash_lsh_pairs(
        tables["documents"], n_hashes=16, band_rows=2, shingle_words=2,
        jaccard_threshold=0.3,
    )
    assert pairs.count() >= 0
    assert _cached_ids(spark) - before == set()


def test_demean_one_scan_means_released(spark, monkeypatch):
    """GROUPING SETS means past the inline cap: the cached means table must
    be unpersisted by Frame.cleanup()."""
    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.plans.common import resolve_source
    from dbreg_spark.plans.frames import build_base_frame, build_demeaned_frame

    from fixtures import panel_balanced

    df = spark.createDataFrame(panel_balanced())
    parsed = parse_formula("y ~ x1 + x2 | firm + year")
    source = resolve_source(spark=spark, data=df)
    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    base = build_base_frame(source, parsed, design, want_sql=False)

    monkeypatch.setattr("dbreg_spark.plans.levels.INLINE_VALUES", 0)
    before = _cached_ids(spark)
    frame = build_demeaned_frame(base, parsed.fe)
    frame.df.count()  # materializes the cached gs table
    new = _cached_ids(spark) - before
    assert len(new) == 1
    frame.cleanup()
    assert _cached_ids(spark) & new == set()


def test_demean_inline_means_released(spark):
    """Under the inline cap the means table, cached before the collect that
    counts its levels, is released as soon as the rows are in hand."""
    from dbreg_spark.design import build_design
    from dbreg_spark.formula import parse_formula
    from dbreg_spark.plans.common import resolve_source
    from dbreg_spark.plans.frames import build_base_frame, build_demeaned_frame

    from fixtures import panel_balanced

    df = spark.createDataFrame(panel_balanced())
    parsed = parse_formula("y ~ x1 + x2 | firm + year")
    source = resolve_source(spark=spark, data=df)
    design = build_design(source.df, parsed, expand="all", fe_vars=parsed.fe)
    base = build_base_frame(source, parsed, design, want_sql=False)

    before = _cached_ids(spark)
    frame = build_demeaned_frame(base, parsed.fe)
    assert frame.cached is None
    frame.df.count()
    assert _cached_ids(spark) - before == set()


@pytest.mark.parametrize("fe", ["firm", "firm + year"])
def test_multi_plan_leaves_no_cache(spark, monkeypatch, fe):
    """The lazy dbreg_multi plan cannot release a means table, so past the
    inline cap it must not cache one."""
    from dbreg_spark.multi import build_multi_plan

    from fixtures import panel_balanced

    df = spark.createDataFrame(panel_balanced())
    monkeypatch.setattr("dbreg_spark.plans.levels.INLINE_VALUES", 0)
    before = _cached_ids(spark)
    agg_df, _ = build_multi_plan(
        f"y ~ x1 + sw(x2) | {fe}", spark=spark, data=df, strategy="demean"
    )
    agg_df.collect()
    assert _cached_ids(spark) - before == set()


@pytest.mark.slowparity
def test_dbreg_strategies_leave_no_cache(spark, tables):
    before = _cached_ids(spark)
    li = tables["lineitem"]
    dbreg("l_extendedprice ~ l_quantity | l_returnflag + l_linestatus", li,
          strategy="demean", vcov="hc1")
    dbreg("l_extendedprice ~ l_quantity | l_returnflag + l_linestatus", li,
          strategy="mundlak", vcov="hc1")
    dbreg("l_tax ~ l_quantity | l_returnflag", li, strategy="compress")
    # distributed-Gram fallback persists the cell table internally
    # (cluster variant also persists per-cluster score tables)
    dbreg("l_tax ~ l_quantity + l_discount | l_returnflag + l_linestatus", li,
          strategy="compress", compress_nmax=100, vcov="~l_returnflag")
    # iterated 3-FE demeaning checkpoints each sweep internally
    dbreg("l_extendedprice ~ l_quantity | l_returnflag + l_linestatus + l_linenumber",
          li, strategy="demean")
    assert _cached_ids(spark) - before == set()


def _temp_views(spark) -> set:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_raising_glm_fits_leave_no_views_or_cache(spark):
    """A GLM fit that raises (binomial on a 0/1/2 outcome) must leave no
    temp view behind and nothing in the session's cache manager."""
    from dbreg_spark import dbglm
    from dbreg_spark.multi_glm import dbglm_multi

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        pd.DataFrame(
            {"y": np.arange(60) % 3, "x": rng.normal(size=60), "z": rng.normal(size=60)}
        )
    )
    spark.catalog.clearCache()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    views = _temp_views(spark)
    for fit in (
        lambda: dbglm("y ~ x", df, family="binomial"),
        lambda: dbglm_multi("y ~ csw(x, z)", df, family="binomial"),
    ):
        with pytest.raises(ValueError, match="outside"):
            fit()
        assert _temp_views(spark) == views
        assert cache_manager.isEmpty()


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far: Spark's own CodegenMetrics
    counter, which records one sample per generated class compiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_repeated_fits_compile_no_new_code(spark):
    """Compiled whole-stage classes are cached per JVM, keyed by their
    source. Ten distinct fits need well over Spark's default 100 cache
    entries; with the session's cache sized for them, fitting them all a
    second time compiles (almost) nothing new. With a 100-entry cache the
    first fits' classes are evicted before their next use and the second
    round recompiles about as much as the first."""
    from dbreg_spark import (
        dbbinsreg,
        dbglm,
        dbiv,
        dbreg_multi,
        dbreg_split,
    )

    rng = np.random.default_rng(11)
    n = 600
    x1, x2, z = rng.normal(size=n), rng.normal(size=n), rng.normal(size=n)
    f1, f2, f3 = rng.integers(0, 3, n), rng.integers(0, 2, n), rng.integers(0, 7, n)
    eta = 0.2 + 0.5 * x1 - 0.3 * x2
    pdf = pd.DataFrame(
        {
            "y": 1 + x1 - x2 + 0.3 * f1 + rng.normal(size=n),
            "y2": 2 - x1 + 0.1 * f3 + rng.normal(size=n),
            "x1": x1 + 0.5 * z,
            "x2": x2,
            "z": z,
            "f1": [f"a{k}" for k in f1],
            "f2": [f"b{k}" for k in f2],
            "f3": f3,
            "seg": rng.integers(0, 5, n),
            "b": (rng.uniform(size=n) < 1 / (1 + np.exp(-eta))).astype("int64"),
            "cnt": rng.poisson(np.exp(eta)),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    fits = [
        lambda: dbreg("y ~ x1 + x2 | f1 + f2", df, strategy="compress", vcov="hc1"),
        lambda: dbreg("y ~ x1 + x2 | f1 + f2", df, strategy="demean", vcov="hc1"),
        lambda: dbreg("y ~ x1 + x2 | f1 + f2 + f3", df, strategy="demean", vcov="~seg"),
        lambda: dbreg("y ~ x1 + x2 | f1", df, strategy="mundlak", vcov="~seg"),
        lambda: dbglm("b ~ x1 + x2", df, family="binomial", vcov="hc1"),
        lambda: dbglm("cnt ~ x1 + x2 | f1", df, family="poisson", vcov="~seg"),
        lambda: dbbinsreg("y ~ x1", df, points=(0, 0), nbins=10, vcov="hc1"),
        lambda: dbiv("y ~ x2 | x1 ~ z", df, vcov="~seg"),
        lambda: dbreg_multi("c(y, y2) ~ x1 + csw(x2, f3)", df, vcov="hc1",
                            strategy="moments"),
        lambda: dbreg_split("y ~ x1 + x2", df, split="seg", strategy="moments",
                            vcov="~f1"),
    ]
    try:
        rounds = []
        for _ in range(2):
            before = _compiles(spark)
            for fit in fits:
                fit()
            rounds.append(_compiles(spark) - before)
    finally:
        df.unpersist()
    first, second = rounds
    assert first > 100, rounds  # the working set exceeds Spark's default
    assert second <= 12, rounds
