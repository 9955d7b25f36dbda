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


def test_demean_one_scan_means_released(spark):
    """Forced one-scan GROUPING SETS means: the cached means table must be
    unpersisted by Frame.cleanup()."""
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
    frame = build_demeaned_frame(base, parsed.fe, one_scan_means=True)
    frame.df.count()  # materializes the cached gs table
    new = _cached_ids(spark) - before
    assert len(new) == 1
    frame.cleanup()
    assert _cached_ids(spark) & new == set()


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
