"""The sandwich kernel (plans/meat.py:sandwich_meat) against numpy: for
hc, hc3, one- and two-way clusters and Driscoll-Kraay, with and without a
``by=`` split, the kernel's meats equal Σ_g s_g s_gᵀ computed row by row
in numpy, and its DuckDB twin, run in DuckDB, gives the same meats.
Hypothesis draws small random frames; a grouping with a single cluster or
period must raise instead."""

from __future__ import annotations

from itertools import combinations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbreg_spark.plans.frames import Frame
from dbreg_spark.plans.meat import ols_block, sandwich_meat

CASES = [
    ("hc1", []),
    ("hc3", []),
    ("cluster", ["g1"]),
    ("cluster", ["g1", "g2"]),
    ("dk", ["t"]),
]
MINV = np.array([[2e-3, 1e-4, 0.0], [1e-4, 1e-3, -2e-4], [0.0, -2e-4, 1.5e-3]])


@st.composite
def frames(draw):
    n = draw(st.integers(8, 30))
    seed = draw(st.integers(0, 2**31 - 1))
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "y": rng.normal(size=n),
            "x1": rng.normal(size=n),
            "x2": rng.integers(0, 4, n).astype(float),
            "w": rng.uniform(0.5, 2.0, n),
            "g1": rng.integers(0, draw(st.integers(1, 4)), n),
            "g2": rng.integers(0, 3, n),
            "t": rng.integers(0, draw(st.integers(1, 6)), n),
            "sp": rng.integers(0, 2, n),
        }
    ), [float(b) for b in rng.normal(size=3)], int(rng.integers(0, 3))


def _nw(S, lag):
    T = S.shape[0]
    lag = min(lag, T - 1)
    m = S.T @ S
    for ell in range(1, lag + 1):
        G = S[ell:].T @ S[:-ell]
        m += (1.0 - ell / (lag + 1.0)) * (G + G.T)
    return m


def _reduce(scores: pd.DataFrame, cols, vcov, keys, lag):
    """(scale-free vcov meat, G) from a per-row or per-group score table:
    CR meats carry their G/(G−1) factors, so multiway sums compare
    directly; None when a grouping has one cluster/period."""
    if vcov in ("hc1", "hc3"):
        S = scores[cols].to_numpy()
        return S.T @ S, None
    if vcov == "dk":
        per = scores.groupby(keys[0], sort=True)[cols].sum().to_numpy()
        if len(per) < 2:
            return None
        return _nw(per, lag) * len(per) / (len(per) - 1), len(per)
    total, g_min = 0.0, None
    for r in range(1, len(keys) + 1):
        for sub in combinations(keys, r):
            per = scores.groupby(list(sub))[cols].sum().to_numpy()
            g = len(per)
            if g < 2:
                return None
            if r == 1:
                g_min = g if g_min is None else min(g_min, g)
            total = total + (1.0 if r % 2 else -1.0) * g / (g - 1) * per.T @ per
    return total, g_min


def _oracle(pdf, beta, vcov, keys, lag):
    X = np.column_stack([np.ones(len(pdf)), pdf["x1"], pdf["x2"]])
    e = pdf["w"].to_numpy() * (pdf["y"].to_numpy() - X @ np.asarray(beta))
    if vcov == "hc3":
        h = pdf["w"].to_numpy() * np.einsum("ij,jk,ik->i", X, MINV, X)
        e = e / np.maximum(1.0 - h, 1e-12)
    scores = pd.DataFrame(X * e[:, None], columns=["s0", "s1", "s2"])
    for k in keys:
        scores[k] = pdf[k].to_numpy()
    return _reduce(scores, ["s0", "s1", "s2"], vcov, keys, lag)


def _scaled(meat, g, vcov):
    """The kernel's meat times the G/(G−1) the CR/DK vcov applies."""
    return meat if vcov in ("hc1", "hc3") else meat * g / (g - 1)


@pytest.mark.parametrize("by", [None, "sp"])
@pytest.mark.parametrize("vcov,keys", CASES)
@settings(
    max_examples=1,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=frames())
def test_kernel_matches_numpy_and_duckdb(spark, vcov, keys, by, data):
    pdf, beta, lag = data
    frame = Frame(
        df=spark.createDataFrame(pdf),
        y_col="y",
        x_cols=["x1", "x2"],
        key_cols=[],
        sql_cte="WITH base AS (SELECT * FROM pdf)",
        cte_name="base",
    )
    block = ols_block("y", beta, ["x1", "x2"], True, "w", xtx_inv=MINV, kind=vcov)
    kind = {"hc1": "hc", "hc3": "hc"}.get(vcov, vcov)
    levels = sorted(pdf[by].unique()) if by else [None]
    parts = {
        lvl: (pdf if lvl is None else pdf[pdf[by] == lvl]) for lvl in levels
    }
    want = {lvl: _oracle(p, beta, vcov, keys, lag) for lvl, p in parts.items()}
    if any(w is None for w in want.values()):
        with pytest.raises(ValueError, match="at least 2"):
            sandwich_meat(frame, [block], kind, keys, by=by, lag=lag)
        return
    res = sandwich_meat(frame, [block], kind, keys, by=by, lag=lag)
    assert sorted(res.meats) == levels
    for lvl, (meat_w, g_w) in want.items():
        (meat,) = res.meats[lvl]
        assert res.g.get(lvl) == g_w
        np.testing.assert_allclose(
            _scaled(meat, g_w, vcov), meat_w, rtol=1e-9, atol=1e-9
        )

    # the DuckDB twin: the hc meat row(s), or the finest score table
    twin = duckdb.sql(res.sql).df()
    for lvl in levels:
        t = twin if lvl is None else twin[twin[by] == lvl]
        if kind == "hc":
            got = np.array(
                [[float(t[f"meat_{min(i, j)}_{max(i, j)}"].iloc[0])
                  for j in range(3)] for i in range(3)]
            )
            np.testing.assert_allclose(got, want[lvl][0], rtol=1e-9, atol=1e-9)
        else:
            cols = ["score_0", "score_1", "score_2"]
            got, _ = _reduce(t, cols, vcov, keys, lag)
            np.testing.assert_allclose(got, want[lvl][0], rtol=1e-9, atol=1e-9)
