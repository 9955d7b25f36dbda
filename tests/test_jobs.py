"""Spark jobs per fit. Each fit runs under its own job group and the jobs
Spark tracked for the group are counted. Each bound is the count measured
when per-level tables (group means, per-level β, level→β lookups) rode in
the plan as literals, plus a small margin: a table joined from a
group-by or a ``createDataFrame`` costs broadcast jobs in every pass that
uses it, and cannot come back unnoticed."""

from __future__ import annotations

import itertools
import warnings

import pytest

from dbreg_spark import dbreg, dbreg_split

FE2 = "l_returnflag + l_linestatus"

# measured counts (local[4] test session, lineitem sf0.001), each the same
# in six repeated fits: 9, 10, 4, 4; when each table was joined: 18, 15, 6, 6
DEMEAN2_HC1 = 10
MUNDLAK2_CLUSTER = 11
SPLIT_HC2 = 5
COMPRESS_PREDICT = 5

# job groups accumulate in the status tracker: each count needs a fresh id
_GROUPS = itertools.count()


@pytest.fixture(scope="module")
def li(tables):
    li = tables["lineitem"]
    df = li.withColumn("seg", (li.l_orderkey % 7).cast("int")).cache()
    df.count()
    yield df
    df.unpersist()


def _jobs(spark, fit) -> int:
    sc = spark.sparkContext
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")  # unbalanced-panel notice
        fit()  # warm-up: the steady per-fit cost is what is guarded
        group = f"test-jobs-{next(_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            fit()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_demean2_hc1_jobs(spark, li):
    n = _jobs(spark, lambda: dbreg(
        f"l_extendedprice ~ l_quantity + l_discount | {FE2}", li,
        strategy="demean", vcov="hc1"))
    assert n <= DEMEAN2_HC1, n


def test_mundlak2_cluster_jobs(spark, li):
    n = _jobs(spark, lambda: dbreg(
        f"l_extendedprice ~ l_quantity + l_discount | {FE2}", li,
        strategy="mundlak", vcov="~l_linenumber"))
    assert n <= MUNDLAK2_CLUSTER, n


def test_split_hc2_jobs(spark, li):
    # per-level β and inverse Gram: two tables
    n = _jobs(spark, lambda: dbreg_split(
        "l_extendedprice ~ l_quantity + l_discount", li, split="seg",
        strategy="moments", vcov="hc2"))
    assert n <= SPLIT_HC2, n


def test_compress_predict_jobs(spark, li):
    def fit():
        m = dbreg(f"l_tax ~ l_quantity + l_discount | {FE2}", li,
                  strategy="compress", vcov="iid")
        m.predict(li).agg({"fit": "sum"}).collect()

    assert _jobs(spark, fit) <= COMPRESS_PREDICT
