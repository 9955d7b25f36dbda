"""Unit tests for the maxResultSize abort detector (VERDICT r04 #5):
matching must gate on the exception class, and survive Spark rewording the
message, so the driver-collect fallbacks cannot be silently disabled."""

from dbreg_spark.guards import is_result_too_large

# stand-ins with the real Py4J class name — is_result_too_large matches by
# MRO class name so it needs no live JVM to be exercised
Py4JJavaError = type("Py4JJavaError", (Exception,), {})


def test_current_spark_message_matches():
    exc = Py4JJavaError(
        "An error occurred while calling o37.collectToPython.\n"
        ": org.apache.spark.SparkException: Job aborted due to stage "
        "failure: Total size of serialized results of 1 tasks (6.2 MiB) is "
        "bigger than spark.driver.maxResultSize (1024.0 B)"
    )
    assert is_result_too_large(exc)


def test_reworded_message_still_matches_via_alternate_signals():
    # drop the config-key spelling entirely — the TaskKilled phrasing and
    # the TaskSetManager phrasing must each still trigger the fallback
    assert is_result_too_large(
        Py4JJavaError("TaskKilled (Tasks result size has exceeded the limit)")
    )
    assert is_result_too_large(
        Py4JJavaError(
            "Job aborted: total size of serialized results of 4 tasks "
            "(24.7 MiB) exceeds the configured cap"
        )
    )


def test_non_spark_exception_never_matches():
    # class gate: a ValueError mentioning maxResultSize is NOT a size abort
    assert not is_result_too_large(
        ValueError("user text containing maxResultSize")
    )
    assert not is_result_too_large(
        RuntimeError("Tasks result size has exceeded maxResultSize")
    )


def test_unrelated_spark_error_never_matches():
    assert not is_result_too_large(
        Py4JJavaError(
            "org.apache.spark.SparkException: Job aborted due to stage "
            "failure: java.lang.ArithmeticException: / by zero"
        )
    )


def test_pyspark_captured_wrapper_matches():
    # pyspark.errors wrappers derive from PySparkException — same gate
    PySparkException = type("PySparkException", (Exception,), {})
    Captured = type("AnalysisException", (PySparkException,), {})
    assert is_result_too_large(
        Captured("result is bigger than spark.driver.maxResultSize")
    )


def test_one_cluster_or_period_raises_clear_error(spark):
    """A cluster or time column with one value leaves the G/(G − 1)
    small-sample factor undefined: the linear and GLM fits raise a clear
    ValueError instead of a ZeroDivisionError."""
    import numpy as np
    import pandas as pd
    import pytest

    from dbreg_spark import dbglm, dbreg

    rng = np.random.default_rng(11)
    x = rng.normal(size=200)
    pdf = pd.DataFrame(
        {
            "x": x,
            "y": 1.0 + 2.0 * x + rng.normal(size=200),
            "b": (rng.uniform(size=200) < 1 / (1 + np.exp(-x))).astype(float),
            "g": ["only"] * 200,
            "t": [7] * 200,
        }
    )
    df = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="at least 2 clusters"):
        dbreg("y ~ x", df, strategy="moments", vcov="~g")
    with pytest.raises(ValueError, match="at least 2 time periods"):
        dbreg("y ~ x", df, strategy="moments", vcov="dk ~ t")
    with pytest.raises(ValueError, match="at least 2 clusters"):
        dbglm("b ~ x", df, family="binomial", vcov="~g")
    with pytest.raises(ValueError, match="at least 2 time periods"):
        dbglm("b ~ x", df, family="binomial", vcov="dk ~ t")


def test_one_cluster_raises_clear_error_on_cell_paths(spark):
    """The compress strategy and the GLM cell path keep their own cell-level
    cluster meats; one cluster raises the kernel's ValueError there too,
    for one-way and two-way clustering."""
    import numpy as np
    import pandas as pd
    import pytest

    from dbreg_spark import dbglm, dbreg

    rng = np.random.default_rng(12)
    x = rng.normal(size=200)
    pdf = pd.DataFrame(
        {
            "x": x,
            "y": 1.0 + 2.0 * x + rng.normal(size=200),
            "b": (rng.uniform(size=200) < 1 / (1 + np.exp(-x))).astype(float),
            "f": rng.integers(0, 4, 200),
            "g": ["only"] * 200,
            "h": rng.integers(0, 5, 200),
        }
    )
    df = spark.createDataFrame(pdf)
    for vcov in ("~g", "~g + h"):
        with pytest.raises(ValueError, match="at least 2 clusters; g has 1"):
            dbreg("y ~ x | f", df, strategy="compress", vcov=vcov)
        with pytest.raises(ValueError, match="at least 2 clusters; g has 1"):
            dbglm("b ~ x", df, family="binomial", strategy="cells", vcov=vcov)
