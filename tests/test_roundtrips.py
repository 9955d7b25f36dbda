"""Driver<->JVM round trips per fit. Every py4j command a fit sends (bar
memory releases) is counted by patching ``GatewayClient.send_command``.
Each bound is the count measured when the IR reached Spark as SQL text
(one ``F.expr`` per column, one predicate string per missing-value
filter), plus 20%: a per-node Column builder, which costs one or more
round trips per IR node, cannot come back unnoticed."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from py4j.java_gateway import GatewayClient
from py4j.protocol import MEMORY_COMMAND_NAME

from dbreg_spark import dbglm, dbreg

# measured counts (local[4] test session, the frame below)
COMPRESS_HC1 = 237
LOGIT = 1676


@pytest.fixture(scope="module")
def small(spark):
    rng = np.random.default_rng(0)
    n = 400
    g = rng.integers(0, 5, n)
    x1, x2 = rng.normal(size=n), rng.normal(size=n)
    eta = 0.2 + x1 - x2
    pdf = pd.DataFrame(
        {
            "g": [f"g{k}" for k in g],  # a 5-level factor
            "x1": x1,
            "x2": x2,
            "y": 1 + x1 + 0.3 * g + rng.normal(size=n),
            "b": (rng.uniform(size=n) < 1 / (1 + np.exp(-eta))).astype("int64"),
        }
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    yield df
    df.unpersist()


def _roundtrips(monkeypatch, fit) -> int:
    fit()  # warm-up: the steady per-fit cost is what is guarded
    n = 0
    send = GatewayClient.send_command

    def counting(client, command, *a, **k):
        nonlocal n
        # memory commands release Python-side proxies whenever they are
        # freed, so they count other tests' garbage, not this fit's work
        n += not command.startswith(MEMORY_COMMAND_NAME)
        return send(client, command, *a, **k)

    monkeypatch.setattr(GatewayClient, "send_command", counting)
    try:
        fit()
    finally:
        monkeypatch.undo()
    return n


def test_compress_hc1_roundtrips(small, monkeypatch):
    n = _roundtrips(
        monkeypatch,
        lambda: dbreg("y ~ x1 + g", small, strategy="compress", vcov="hc1"),
    )
    assert n <= 1.2 * COMPRESS_HC1, n


def test_logit_roundtrips(small, monkeypatch):
    n = _roundtrips(monkeypatch, lambda: dbglm("b ~ x1 + x2", small, family="binomial"))
    assert n <= 1.2 * LOGIT, n
