"""Reference answers computed outside Spark.

Regression oracles are dense numpy fits on a pandas copy of the generated
table: least-squares dummy-variable (LSDV) OLS with iid / HC1 / CR1
sandwiches, 2SLS, and IRLS for logit and Poisson. Dedup and pipeline
oracles run the operators' DuckDB ``*_sql`` twins on the same parquet.

Small-sample conventions follow the library's documented defaults
(``ssc="full"``): iid and HC1 use ``n - K`` with K counting every LSDV
column; CR1 scales by ``G/(G-1) * n/(n-K)``, for GLM sandwiches too.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def design(pdf: pd.DataFrame, xs: list[str], fes: list[str] = ()):
    """Intercept + regressors + one dummy per non-reference FE level."""
    cols = [np.ones(len(pdf))] + [pdf[x].to_numpy(float) for x in xs]
    names = ["(Intercept)"] + list(xs)
    for f in fes:
        v = pdf[f].to_numpy()
        for lvl in np.unique(v)[1:]:
            cols.append((v == lvl).astype(float))
            names.append(f"{f}::{lvl}")
    return np.column_stack(cols), names


def _cluster_meat(scores: np.ndarray, groups: np.ndarray) -> tuple[np.ndarray, int]:
    _, inv = np.unique(groups, return_inverse=True)
    g = int(inv.max()) + 1
    s = np.zeros((g, scores.shape[1]))
    np.add.at(s, inv, scores)
    return s.T @ s, g


def ols(pdf, y, xs, fes=(), vcov="iid", cluster=None) -> dict:
    """OLS / LSDV fit; returns ``{"coef": {...}, "se": {...}}`` for the
    slope terms (and the intercept when there is no FE)."""
    X, names = design(pdf, xs, fes)
    yv = pdf[y].to_numpy(float)
    xtx_inv = np.linalg.inv(X.T @ X)
    beta = xtx_inv @ (X.T @ yv)
    e = yv - X @ beta
    n, k = X.shape
    if vcov == "iid":
        V = (e @ e / (n - k)) * xtx_inv
    elif vcov == "hc1":
        V = (n / (n - k)) * xtx_inv @ ((X * (e**2)[:, None]).T @ X) @ xtx_inv
    else:
        meat, g = _cluster_meat(X * e[:, None], pdf[cluster].to_numpy())
        V = (g / (g - 1)) * (n / (n - k)) * xtx_inv @ meat @ xtx_inv
    keep = [i for i, nm in enumerate(names) if "::" not in nm]
    if fes:
        keep = [i for i in keep if names[i] != "(Intercept)"]
    se = np.sqrt(np.diag(V))
    return {
        "coef": {names[i]: float(beta[i]) for i in keep},
        "se": {names[i]: float(se[i]) for i in keep},
    }


def iv_2sls(pdf, y, exog, endog, instr, cluster) -> dict:
    n = len(pdf)
    one = np.ones(n)
    W = np.column_stack([one] + [pdf[c].to_numpy(float) for c in exog])
    X = np.column_stack([W] + [pdf[c].to_numpy(float) for c in endog])
    Z = np.column_stack([W] + [pdf[c].to_numpy(float) for c in instr])
    yv = pdf[y].to_numpy(float)
    xhat = Z @ np.linalg.solve(Z.T @ Z, Z.T @ X)
    bread = np.linalg.inv(xhat.T @ X)
    beta = bread @ (xhat.T @ yv)
    e = yv - X @ beta
    k = X.shape[1]
    meat, g = _cluster_meat(xhat * e[:, None], pdf[cluster].to_numpy())
    V = (g / (g - 1)) * (n / (n - k)) * bread @ meat @ bread.T
    names = ["(Intercept)"] + list(exog) + list(endog)
    se = np.sqrt(np.diag(V))
    return {"coef": dict(zip(names, beta.tolist())), "se": dict(zip(names, se.tolist()))}


def glm(pdf, y, xs, family, fes=(), vcov="hc1", cluster=None) -> dict:
    """IRLS for logit / Poisson with FE dummies; HC1 or CR1 sandwich."""
    X, names = design(pdf, xs, fes)
    yv = pdf[y].to_numpy(float)
    n, k = X.shape
    beta = np.zeros(k)
    if family == "poisson":
        beta[0] = np.log(yv.mean())
    for _ in range(100):
        eta = X @ beta
        if family == "binomial":
            mu = 1.0 / (1.0 + np.exp(-eta))
            w = mu * (1.0 - mu)
        else:
            mu = np.exp(eta)
            w = mu
        z = eta + (yv - mu) / w
        new = np.linalg.solve((X * w[:, None]).T @ X, (X * w[:, None]).T @ z)
        done = np.max(np.abs(new - beta)) < 1e-12 * (1 + np.max(np.abs(beta)))
        beta = new
        if done:
            break
    eta = X @ beta
    mu = 1.0 / (1.0 + np.exp(-eta)) if family == "binomial" else np.exp(eta)
    w = mu * (1.0 - mu) if family == "binomial" else mu
    bread = np.linalg.inv((X * w[:, None]).T @ X)
    sc = X * (yv - mu)[:, None]
    if vcov == "hc1":
        V = (n / (n - k)) * bread @ (sc.T @ sc) @ bread
    else:
        meat, g = _cluster_meat(sc, pdf[cluster].to_numpy())
        V = (g / (g - 1)) * (n / (n - k)) * bread @ meat @ bread
    keep = [i for i, nm in enumerate(names) if "::" not in nm]
    if fes:
        keep = [i for i in keep if names[i] != "(Intercept)"]
    se = np.sqrt(np.diag(V))
    return {
        "coef": {names[i]: float(beta[i]) for i in keep},
        "se": {names[i]: float(se[i]) for i in keep},
    }


def binscatter(pdf, y, x, nbins) -> dict:
    """Piecewise-constant binscatter on type-7 quantile bins (left-closed,
    last bin closed): per-bin mean of y and of x, HC1 standard errors."""
    xs = pdf[x].to_numpy(float)
    yv = pdf[y].to_numpy(float)
    breaks = np.quantile(xs, np.linspace(0.0, 1.0, nbins + 1))
    b = np.clip(np.searchsorted(breaks, xs, side="right") - 1, 0, nbins - 1)
    cnt = np.bincount(b, minlength=nbins).astype(float)
    fit = np.bincount(b, yv, nbins) / cnt
    xm = np.bincount(b, xs, nbins) / cnt
    e = yv - fit[b]
    n = len(yv)
    se = np.sqrt((n / (n - nbins)) * np.bincount(b, e**2, nbins) / cnt**2)
    return {"fit": fit.tolist(), "x": xm.tolist(), "se": se.tolist()}


def duck_rows(parquet: dict[str, str], sql: str) -> list[list]:
    """Run ``sql`` in DuckDB over views of the given parquet files and
    return its rows sorted, as lists (JSON-serialisable)."""
    import duckdb

    con = duckdb.connect()
    try:
        for view, path in parquet.items():
            con.execute(
                f"CREATE VIEW {view} AS SELECT * FROM read_parquet('{path}')"
            )
        rows = con.execute(sql).fetchall()
    finally:
        con.close()
    return sorted([plain(v) for v in r] for r in rows)


def plain(v):
    """A numpy scalar as the Python number JSON and comparisons expect."""
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def close(got: dict, want: dict, rtol: float = 1e-6) -> list[str]:
    """Names whose values differ beyond ``rtol`` (or are missing)."""
    bad = []
    for name, w in want.items():
        g = got.get(name)
        if g is None or not np.isfinite(g) or abs(g - w) > rtol * max(abs(w), 1e-12):
            bad.append(f"{name}: got {g!r}, want {w!r}")
    return bad
