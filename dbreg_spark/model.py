"""The fitted-model object returned by :func:`dbreg_spark.dbreg`.

Mirrors the reference's ``dbreg`` S3 object (R/dbreg.R:858-871, 2089-2100)
and its post-estimation methods (R/stats-methods.R, R/gof.R, R/tidiers.R,
R/print.R): coef/se/vcov/confint, predict (distributed — an upgrade over the
reference's client-side predict, SURVEY §7.5), gof (R²/adj-R²/RMSE), tidy,
glance, and a readable print.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

import numpy as np
import pandas as pd
from . import stats as _tstats

from .design import standardize_coef_names


def _balanced_sum(terms: list):
    """Sum Column expressions as a balanced binary tree (depth log n, not n —
    long left-deep add chains overflow Spark's column-conversion stack)."""
    while len(terms) > 1:
        terms = [
            terms[i] + terms[i + 1] if i + 1 < len(terms) else terms[i]
            for i in range(0, len(terms), 2)
        ]
    return terms[0]


@dataclass
class DbregModel:
    coeftable: pd.DataFrame  # index = coef names; estimate/std.error/statistic/p.value
    vcov_: np.ndarray
    coef_names: list[str]
    yvar: str
    xvars: list[str]
    fe: list[str]
    strategy: str
    vcov_type: str
    cluster_var: Optional[str]
    nobs: int  # rows fetched to the driver (1 for moment strategies)
    nobs_orig: int  # underlying data rows
    df_residual: float
    rss: float
    tss: float
    n_fe1: int = 1
    n_fe2: int = 1
    n_clusters: Optional[int] = None
    collin_vars: list[str] = field(default_factory=list)
    compression_ratio: Optional[float] = None
    compression_ratio_est: Optional[float] = None
    query_string: Optional[str] = None  # oracle SQL of the main pass
    # handles used by predict(); not part of the printed surface
    design_info: object = None
    parsed: object = None
    intercept: bool = True
    # compress only: retained compressed cells (reference keeps object$data,
    # R/dbreg.R:2089-2100, enabling predict(newdata=NULL))
    cells: Optional[pd.DataFrame] = None
    spark_session: object = None
    # compress only: categorical design blocks {var: [non-reference levels]}
    # — covers FE vars AND unexpanded factor regressors
    cat_levels: Optional[dict] = None
    # exact FE-dummy coefficient names (so a regressor sharing an FE's name
    # prefix is never misclassified)
    fe_coef_names: frozenset = frozenset()
    # demean only: True when the estimator used iterated (alternating-
    # projection) demeaning — predict() must then apply the same transform
    # to newdata, NOT the balanced double-demean identity
    demean_iterated: bool = False
    # WLS: the observation-weight column (fixest's weights=). predict() and
    # fixef() must use w-weighted group means to mirror the estimator
    weight_col: Optional[str] = None

    # -- inference ---------------------------------------------------------
    def _is_fe_coef(self, name: str) -> bool:
        """FE-level dummies (compress models), matched against the exact
        name set built from the cell design's level tables (reference:
        stats-methods.R:28-60 uses the stored coef_names the same way)."""
        return name in self.fe_coef_names

    def _filter_fe(self, s, fe):
        if fe is None:
            return s
        mask = [self._is_fe_coef(n) for n in s.index]
        if fe:
            return s[mask]
        return s[[not m for m in mask]]

    def coef(self, fe: bool | None = None) -> pd.Series:
        """Estimates; ``fe=False`` drops FE-level dummies, ``fe=True`` keeps
        only them (reference: ``coef.dbreg(fe=)``)."""
        return self._filter_fe(self.coeftable["estimate"], fe)

    def se(self, fe: bool | None = None) -> pd.Series:
        return self._filter_fe(self.coeftable["std.error"], fe)

    def vcov(self) -> pd.DataFrame:
        return pd.DataFrame(self.vcov_, index=self.coef_names, columns=self.coef_names)

    def confint(
        self,
        parm: list[str] | None = None,
        level: float = 0.95,
        fe: bool | None = None,
    ) -> pd.DataFrame:
        crit = _tstats.t_ppf(1 - (1 - level) / 2, self.df_residual)
        est, se = self.coeftable["estimate"], self.coeftable["std.error"]
        lo = est - crit * se
        hi = est + crit * se
        out = pd.DataFrame(
            {f"{(1 - level) / 2:.1%}": lo, f"{1 - (1 - level) / 2:.1%}": hi}
        )
        out = self._filter_fe(out, fe)
        if parm is not None:
            missing = [p for p in parm if p not in out.index]
            if missing:
                raise ValueError(f"unknown coefficient(s): {missing}")
            out = out.loc[parm]
        return out

    # -- Wald tests of linear restrictions (beyond the reference; fixest's
    # wald() / car::linearHypothesis) --------------------------------------
    def wald(self, hypotheses=None, R=None, q=None) -> dict:
        """Wald F test of linear restrictions Rβ = q under the model's
        fitted vcov (iid/HC1/CR1 — whatever this model was estimated with).

        Three input forms:

        - ``hypotheses=None``: joint significance of every non-intercept
          (non-FE-dummy) coefficient — the regression F statistic.
        - ``hypotheses=[...]``: list of coefficient names (jointly = 0)
          and/or equation strings like ``"x1 = x2"``, ``"x1 + 2*x2 = 1"``
          (car::linearHypothesis syntax, +/- and numeric*name terms).
        - ``R=`` a (k × p) matrix over ``coef_names`` (optional ``q``).

        Returns ``{"stat", "df1", "df2", "p.value"}`` with
        F = (Rβ̂−q)'(RVR')⁻¹(Rβ̂−q)/k and df2 = the model's residual dof.
        Driver-side only — no data pass."""
        from . import stats as _ts

        beta = self.coeftable["estimate"].to_numpy(dtype=float)
        names = list(self.coef_names)
        if R is not None:
            R = np.atleast_2d(np.asarray(R, dtype=float))
            if R.shape[1] != len(names):
                raise ValueError(
                    f"R has {R.shape[1]} columns; model has {len(names)} "
                    "coefficients"
                )
            qv = np.zeros(R.shape[0]) if q is None else np.asarray(q, float)
        else:
            if hypotheses is None:
                hypotheses = [
                    n
                    for n in names
                    if n != "(Intercept)" and not self._is_fe_coef(n)
                ]
                if not hypotheses:
                    raise ValueError("no testable coefficients in the model")
            if isinstance(hypotheses, str):
                hypotheses = [hypotheses]
            rows, qs = [], []
            for h in hypotheses:
                r, c = _parse_hypothesis(h, names)
                rows.append(r)
                qs.append(c)
            R = np.vstack(rows)
            qv = np.asarray(qs, dtype=float)
        k = R.shape[0]
        if np.linalg.matrix_rank(R) < k:
            raise ValueError("restriction matrix R is rank-deficient")
        diff = R @ beta - qv
        RVR = R @ self.vcov_ @ R.T
        stat = float(diff @ np.linalg.solve(RVR, diff)) / k
        df2 = float(self.df_residual)
        return {
            "stat": stat,
            "df1": float(k),
            "df2": df2,
            "p.value": _ts.f_sf(stat, k, df2),
        }

    def augment(self, newdata=None):
        """broom's ``augment``: :meth:`predict` output plus a ``resid``
        column (y − fit) when the outcome is present in the scored frame —
        fully distributed, same semantics per strategy as predict."""
        import pyspark.sql.functions as F

        out = self.predict(newdata)
        if self.yvar in out.columns:
            out = out.withColumn(
                "resid", F.col(self.yvar).cast("double") - F.col("fit")
            )
        return out

    # -- goodness of fit (reference: R/gof.R:10-27) ------------------------
    def r2(self) -> float:
        return 1.0 - self.rss / self.tss

    def adj_r2(self) -> float:
        n, k = self.nobs_orig, self.nobs_orig - self.df_residual
        return 1.0 - (self.rss / self.df_residual) / (self.tss / (n - 1))

    def rmse(self) -> float:
        return float(np.sqrt(self.rss / self.nobs_orig))

    def gof(self) -> dict:
        return {"r2": self.r2(), "adj_r2": self.adj_r2(), "rmse": self.rmse()}

    # -- tidiers (reference: R/tidiers.R:26-75) ----------------------------
    def tidy(self, conf_int: bool = False, level: float = 0.95) -> pd.DataFrame:
        out = self.coeftable.reset_index().rename(columns={"index": "term"})
        if conf_int:
            ci = self.confint(level=level)
            out["conf.low"] = ci.iloc[:, 0].values
            out["conf.high"] = ci.iloc[:, 1].values
        return out

    def glance(self) -> pd.DataFrame:
        return pd.DataFrame(
            [
                {
                    "r.squared": self.r2(),
                    "adj.r.squared": self.adj_r2(),
                    "rmse": self.rmse(),
                    "nobs": self.nobs_orig,
                    "df.residual": self.df_residual,
                    "strategy": self.strategy,
                    "vcov.type": self.vcov_type,
                }
            ]
        )

    # -- weighted-mean plumbing (WLS models mirror the estimator's means) --
    def _require_weight(self, newdata) -> None:
        if self.weight_col and self.weight_col not in newdata.columns:
            raise ValueError(
                f"this model was fit with weights='{self.weight_col}'; "
                "newdata/data must carry that column so group means can be "
                "recomputed with the estimator's weighting"
            )

    def _mean_agg(self, expr, alias: str | None = None):
        """Group-mean aggregate matching the estimator: plain AVG, or the
        null-aware w-weighted mean Σw·x / Σ(w | x not null) for WLS models
        (same semantics as plans.frames._wmean_col)."""
        import pyspark.sql.functions as F

        if self.weight_col:
            w = F.col(self.weight_col).cast("double")
            out = F.sum(expr * w) / F.sum(F.when(expr.isNotNull(), w))
        else:
            out = F.avg(expr)
        return out.alias(alias) if alias is not None else out

    # -- predict (distributed; reference: R/stats-methods.R:94-236) --------
    def predict(self, newdata=None, interval: str | None = None, level: float = 0.95):
        """Score a Spark DataFrame with the fitted coefficients.

        Returns the input with a ``fit`` column appended (plus ``lwr``/``upr``
        when ``interval`` is "confidence" or "prediction"). Runs fully
        distributed: β is embedded as literals, group means come from
        broadcast-joined tiny aggregates of *newdata* (matching the
        reference's ``ave(newdata...)`` semantics, stats-methods.R:128-201),
        and x'Vx is expanded as a quadratic form in columns.

        Strategy-specific semantics (reference: stats-methods.R:71-111):

        - ``demean``: predictors are demeaned with group means computed from
          ``newdata``. When the outcome is present its group means are added
          back (level predictions); otherwise within-group predictions are
          returned with a warning. Intervals are refused (FE uncertainty was
          absorbed at estimation) and downgraded to point predictions.
        - ``mundlak``: the ``x_bar_fe`` regressors are recomputed from
          ``newdata`` group means.
        - ``compress``: FE-level (and factor-level) dummy coefficients are
          scored via broadcast-joined level→β lookup tables;
          ``newdata=None`` predicts on the retained compressed cells
          (stats-methods.R:113-118).
        """
        import warnings

        import pyspark.sql.functions as F

        if interval == "none":
            interval = None
        if interval not in (None, "confidence", "prediction"):
            raise ValueError("interval must be 'none', 'confidence' or 'prediction'")
        if self.strategy == "demean" and interval is not None:
            warnings.warn(
                "Confidence/prediction intervals not supported for demean "
                "strategy (fixed effect uncertainty unavailable). Returning "
                "point predictions."
            )
            interval = None

        if newdata is None:
            if self.strategy == "compress" and self.cells is not None:
                keep = [
                    c
                    for c in self.cells.columns
                    if c not in (
                        "n", "sum_y", "sum_y_sq", "mean_y", "wts", "sum_w",
                        "sum_wy", "sum_wy_sq", "sum_w2", "sum_w2y",
                        "sum_w2y_sq", "w_min",
                    )
                ]
                newdata = self.spark_session.createDataFrame(self.cells[keep])
            else:
                raise ValueError(
                    "newdata is required for predictions, as dbreg does not "
                    "retain the original data (compressed cells are retained "
                    "only for strategy='compress')."
                )
        if self.design_info is None:
            raise ValueError("model does not carry design info; cannot predict")

        if self.strategy == "demean":
            return self._predict_demean(newdata)

        beta = self.coeftable["estimate"]
        df, fit, col_exprs = self._score_terms(newdata, beta)
        out = df.withColumn("fit", fit)

        if interval in ("confidence", "prediction"):
            # var(x'b) = x' V x expanded into column arithmetic; terms are
            # summed as a balanced tree (a left-deep chain of p² adds
            # overflows the plan-conversion stack for FE-dummy designs)
            cols = [col_exprs[c] for c in self.coef_names]
            V = self.vcov_
            terms = [
                F.lit(float(V[i, j])) * cols[i] * cols[j]
                for i in range(len(cols))
                for j in range(len(cols))
                if V[i, j] != 0.0
            ]
            var_fit = _balanced_sum(terms) if terms else F.lit(0.0)
            if interval == "prediction":
                sigma2 = self.rss / self.df_residual
                var_fit = var_fit + F.lit(float(sigma2))
            crit = float(_tstats.t_ppf(1 - (1 - level) / 2, self.df_residual))
            se_fit = F.sqrt(var_fit)
            out = out.withColumn("lwr", F.col("fit") - crit * se_fit).withColumn(
                "upr", F.col("fit") + crit * se_fit
            )
        return out

    def _design_expr(self, raw_name: str, newdata):
        """Spark expression for a design column on ``newdata``: the column
        itself when already materialized (e.g. predicting on compressed
        cells), else the design expression re-evaluated."""
        import pyspark.sql.functions as F

        from .plans.exprs import to_spark

        if raw_name in newdata.columns:
            return F.col(raw_name).cast("double")
        exprs = dict(zip(self.design_info.names, self.design_info.exprs))
        return to_spark(exprs[raw_name])

    def _score_terms(self, newdata, beta):
        """(df, fit_expr, {coef_name: column_expr}) for moments / mundlak /
        compress scoring. ``df`` is ``newdata`` with any broadcast-joined
        helper columns (mundlak group means, compress level lookups)."""
        import pyspark.sql.functions as F

        from .plans.levels import with_levels

        df = newdata
        fit = F.lit(0.0)
        col_exprs: dict = {}
        if "(Intercept)" in beta.index:
            fit = fit + F.lit(float(beta["(Intercept)"]))
        col_exprs["(Intercept)"] = F.lit(1.0)

        cat_levels = self.cat_levels or {}
        # categorical blocks (compress): one level→β lookup per variable
        # (plan literals up to the inline cap, else a broadcast join) —
        # scales to many FE levels where a CASE ladder would not; unseen
        # levels score 0
        for v, lvls in cat_levels.items():
            if not lvls:
                continue
            bvals = [float(beta.get(f"{v}{lvl}", 0.0)) for lvl in lvls]
            if not any(bvals) and all(f"{v}{lvl}" not in beta.index for lvl in lvls):
                continue
            df = with_levels(df, v, lvls, {f"__beta_{v}": bvals}, how="left")
            fit = fit + F.coalesce(F.col(f"__beta_{v}"), F.lit(0.0))
            for lvl in lvls:
                cname = f"{v}{lvl}"
                if cname in self.coef_names:
                    col_exprs[cname] = (F.col(v) == F.lit(lvl)).cast("double")

        # numeric / expanded design columns
        for raw_name in self.design_info.names:
            if raw_name in cat_levels:
                continue  # scored above as a categorical block
            cname = standardize_coef_names(raw_name)
            expr = self._design_expr(raw_name, newdata)
            col_exprs[cname] = expr
            if cname in beta.index:
                fit = fit + F.lit(float(beta[cname])) * expr

        # mundlak: group-mean regressors recomputed from newdata
        # (reference: stats-methods.R:183-201); weighted models recompute
        # the same w-weighted means the estimator used
        if self.strategy == "mundlak":
            self._require_weight(newdata)
            numeric_vars = list(getattr(self.design_info, "numeric_vars", []))
            for fe_k in self.fe or []:
                bars = [
                    (v, f"{v}_bar_{fe_k}")
                    for v in numeric_vars
                    if f"{v}_bar_{fe_k}" in beta.index
                ]
                if not bars:
                    continue
                means = newdata.groupBy(fe_k).agg(
                    *[
                        self._mean_agg(F.col(v).cast("double"), bar)
                        for v, bar in bars
                    ]
                )
                df = df.join(F.broadcast(means), on=fe_k, how="left")
                for _, bar in bars:
                    fit = fit + F.lit(float(beta[bar])) * F.col(bar)
                    col_exprs[bar] = F.col(bar)
        return df, fit, col_exprs

    def _predict_demean(self, newdata):
        """Demean-strategy predict (reference: stats-methods.R:133-181):
        demean newdata predictors with group means computed *from newdata*,
        add back the outcome group means when the outcome is present."""
        import warnings

        import pyspark.sql.functions as F

        beta = self.coeftable["estimate"]
        fe = self.fe
        has_y = self.yvar in newdata.columns
        if not has_y:
            warnings.warn(
                f"Outcome '{self.yvar}' not found in newdata. Returning "
                "within-group predictions (demean strategy only)."
            )
        self._require_weight(newdata)
        orig_cols = list(newdata.columns)

        used = [
            (raw, standardize_coef_names(raw))
            for raw in self.design_info.names
            if standardize_coef_names(raw) in beta.index
        ]
        proj = newdata
        tmp_cols = []
        for i, (raw, _) in enumerate(used):
            a = f"__px_{i}"
            proj = proj.withColumn(a, self._design_expr(raw, newdata))
            tmp_cols.append(a)

        if self.demean_iterated or len(fe) > 2:
            return self._predict_demean_iterated(
                proj, beta, used, tmp_cols, has_y, orig_cols
            )

        def mean_table(group_by: list[str], suffix: str):
            aggs = [
                self._mean_agg(F.col(a), f"{a}{suffix}") for a in tmp_cols
            ]
            if has_y:
                aggs.append(
                    self._mean_agg(
                        F.col(self.yvar).cast("double"), f"__py{suffix}"
                    )
                )
            if group_by:
                return proj.groupBy(*group_by).agg(*aggs)
            return proj.agg(*aggs)

        if len(fe) == 1:
            j = proj.join(F.broadcast(mean_table([fe[0]], "_m1")), on=fe[0], how="left")
            demeaned = {a: F.col(a) - F.col(f"{a}_m1") for a in tmp_cols}
            ybar = F.col("__py_m1") if has_y else F.lit(0.0)
        else:
            # balanced-TWFE double demeaning, mirroring the estimator
            j = (
                proj.join(F.broadcast(mean_table([fe[0]], "_m1")), on=fe[0], how="left")
                .join(F.broadcast(mean_table([fe[1]], "_m2")), on=fe[1], how="left")
                .crossJoin(F.broadcast(mean_table([], "_mo")))
            )
            demeaned = {
                a: F.col(a) - F.col(f"{a}_m1") - F.col(f"{a}_m2") + F.col(f"{a}_mo")
                for a in tmp_cols
            }
            ybar = (
                F.col("__py_m1") + F.col("__py_m2") - F.col("__py_mo")
                if has_y
                else F.lit(0.0)
            )

        fit = ybar
        for a, (_, cname) in zip(tmp_cols, used):
            fit = fit + F.lit(float(beta[cname])) * demeaned[a]
        return j.withColumn("fit", fit).select(*orig_cols, "fit")

    def _predict_demean_iterated(self, proj, beta, used, tmp_cols, has_y, orig_cols):
        """Predict for iterated-demean (alternating-projection) models —
        exact on unbalanced panels and for any FE count, mirroring the
        estimator's transform on *newdata* (reference semantics compute the
        group means from newdata, stats-methods.R:128-201).

        With M = I − P_FE the converged within-projection, fit = y − M y +
        (M X)β  ==  P_FE y + M X β, which equals the LSDV fitted values
        (FWL); without the outcome only the within part M X β is returned
        (with the standard warning, emitted by the caller). The transform
        runs the same adaptive sweep loop as estimation
        (plans/frames.py:build_demeaned_frame_iterative); its checkpoint
        blocks back the returned frame and are released by Spark's context
        cleaner once the caller drops it."""
        import pyspark.sql.functions as F

        from .plans.frames import Frame, build_demeaned_frame_iterative

        proj = proj.withColumn(
            "__py",
            F.col(self.yvar).cast("double") if has_y else F.lit(0.0),
        )
        base = Frame(proj, "__py", list(tmp_cols), orig_cols, None, "predict_base")
        frame = build_demeaned_frame_iterative(
            base, list(self.fe), weight_col=self.weight_col
        )
        fit = (
            F.col(self.yvar).cast("double") - F.col("__py")
            if has_y
            else F.lit(0.0)
        )
        for a, (_, cname) in zip(tmp_cols, used):
            fit = fit + F.lit(float(beta[cname])) * F.col(a)
        return frame.df.withColumn("fit", fit).select(*orig_cols, "fit")

    # -- fixed-effect recovery (beyond the reference; fixest's fixef()) ----
    def fixef(self, data=None):
        """Recover fixed-effect level estimates.

        - ``compress``: from the fitted FE-dummy coefficients (reference
          level = 0.0); returns ``{fe_var: pandas.Series}``, no data needed.
        - ``demean`` with one FE: ``α̂_g = ȳ_g − x̄_g'β`` computed
          *distributed* from ``data`` (dbreg retains no data, matching the
          reference); returns a Spark DataFrame ``(fe, fixef)`` — levels can
          be numerous, the caller decides whether to collect.
        - ``mundlak``: exact absorbed-FE recovery from the structural
          slopes only (the ``x_bar`` CRE terms are the FE projection, so
          the residual ``y − Xβ̂`` is averaged per level exactly like the
          demean paths — Mundlak's β̂ equals the within β̂, so this IS the
          LSDV level effect). Same return shapes as demean: a Spark
          DataFrame ``(fe, fixef)`` for one FE, ``{fe_var: pandas.Series}``
          (fixest-normalized) for k ≥ 2. Needs ``data`` passed back.
        - ``moments``: no FE in the model — not applicable.
        """
        import pandas as pd_
        import pyspark.sql.functions as F

        if self.strategy == "compress":
            out = {}
            beta = self.coeftable["estimate"]
            for v, lvls in (self.cat_levels or {}).items():
                if v not in (self.fe or []):
                    continue
                # reference level carries no dummy column → 0.0 by coding
                vals = {}
                for lvl in lvls:
                    name = f"{v}{lvl}"
                    vals[lvl] = float(beta.get(name, 0.0))
                out[v] = pd_.Series(vals, name=v)
            return out
        if self.strategy in ("demean", "mundlak") and len(self.fe) == 1:
            if data is None:
                raise ValueError(
                    f"fixef() for {self.strategy} models needs the data "
                    "back (dbreg retains none); pass the training DataFrame."
                )
            self._require_weight(data)
            fe1 = self.fe[0]
            beta = self.coeftable["estimate"]
            terms = [self._mean_agg(F.col(self.yvar).cast("double"))]
            # design_info.names holds the STRUCTURAL terms only — the
            # Mundlak x_bar_<fe> CRE columns are appended to the frame
            # after the design is built, so residualizing on these names
            # uses exactly the within slopes (which Mundlak reproduces)
            for raw in self.design_info.names:
                cname = standardize_coef_names(raw)
                if cname in beta.index:
                    terms.append(
                        -F.lit(float(beta[cname]))
                        * self._mean_agg(self._design_expr(raw, data))
                    )
            fix = terms[0]
            for t in terms[1:]:
                fix = fix + t
            return data.groupBy(fe1).agg(fix.alias("fixef"))
        if self.strategy in ("demean", "mundlak") and len(self.fe) >= 2:
            return self._fixef_multi(data)
        raise NotImplementedError(
            "fixef() is not applicable to moments models (no fixed "
            "effects); compress, demean, and mundlak models all support it."
        )

    def _fixef_multi(self, data):
        """k≥2 absorbed-FE recovery (fixest's fixef() for multi-FE models;
        beyond the reference): project the residual y − Xβ̂ onto the FE
        space with the same compressed alternating-projection machinery the
        estimator uses (plans/frames.py:fe_level_stats +
        gauss_seidel_offsets — ONE data scan, driver-side iteration), then
        normalize fixest-style: within each connected component of the FE
        incidence graph, every FE beyond the first is centered to mean 0,
        the shift absorbed into the first FE. Returns {fe_var:
        pandas.Series indexed by level}."""
        import pandas as pd_
        import pyspark.sql.functions as F

        from .plans.frames import fe_components, fe_level_stats, gauss_seidel_offsets

        if data is None:
            raise ValueError(
                f"fixef() for {self.strategy} models needs the data back "
                "(dbreg retains none); pass the training DataFrame."
            )
        beta = self.coeftable["estimate"]
        resid = F.col(self.yvar).cast("double")
        # design_info.names = structural terms only (see fixef, 1-FE case)
        for raw in self.design_info.names:
            cname = standardize_coef_names(raw)
            if cname in beta.index:
                resid = resid - F.lit(float(beta[cname])) * self._design_expr(raw, data)
        self._require_weight(data)
        wcols = [self.weight_col] if self.weight_col else []
        proj = data.select(*self.fe, *wcols, resid.alias("__r"))
        stats = fe_level_stats(
            proj, self.fe, ["__r"], weight_col=self.weight_col
        )
        if stats is None:
            raise NotImplementedError(
                "fixef(): the FE level/pair tables exceed the driver cap; "
                "re-estimate with strategy='compress' for dummy coefficients."
            )
        levels, counts, sums, pairs = stats
        delta = gauss_seidel_offsets(levels, counts, sums, pairs)
        comp_labels, _n_comp = fe_components(levels, pairs)
        # fixest normalization: per component, FEs beyond the first are
        # mean-zero; the component constant lives in the first FE
        import numpy as np_

        first = comp_labels[0]
        for i in range(1, len(self.fe)):
            lab = comp_labels[i]
            for comp in np_.unique(lab):
                mask = lab == comp
                shift = float(delta[i][mask, 0].mean())
                delta[i][mask, 0] -= shift
                delta[0][first == comp, 0] += shift
        return {
            f: pd_.Series(delta[i][:, 0], index=pd_.Index(levels[i], name=f), name=f)
            for i, f in enumerate(self.fe)
        }

    # -- display -----------------------------------------------------------
    def __repr__(self) -> str:
        lines = [
            f"dbreg_spark model  |  strategy={self.strategy}  vcov={self.vcov_type}"
            + (f"(~{self.cluster_var})" if self.cluster_var else ""),
            f"obs: {self.nobs_orig:,}"
            + (
                f"  (compressed to {self.nobs:,} rows)"
                if self.strategy == "compress"
                else ""
            )
            + (f"  fe: {' + '.join(self.fe)}" if self.fe else ""),
        ]
        if self.collin_vars:
            lines.append(f"dropped (collinear): {', '.join(self.collin_vars)}")
        with pd.option_context("display.float_format", lambda v: f"{v:.6g}"):
            lines.append(str(self.coeftable))
        lines.append(
            f"R2: {self.r2():.6f}  Adj.R2: {self.adj_r2():.6f}  RMSE: {self.rmse():.4g}"
        )
        return "\n".join(lines)


def _parse_linear(expr: str, names: list[str], h: str):
    """One side of a restriction as Σ cᵢ·nameᵢ + const. Terms are split on
    +/-; each is ``name``, ``number``, or ``number*name``. (A coefficient
    name containing +, -, or * itself can't be parsed here — use the bare
    single-name form or pass an explicit R matrix.)"""
    import re

    vec = np.zeros(len(names))
    const = 0.0
    # do not split the +/- inside scientific-notation exponents (1e-3)
    for t in re.split(r"(?<![eE])(?=[+-])", expr.replace(" ", "")):
        if not t:
            continue
        c = 1.0
        if t[0] == "+":
            t = t[1:]
        elif t[0] == "-":
            c = -1.0
            t = t[1:]
        if "*" in t:
            num, t = t.split("*", 1)
            c *= float(num)
        if t in names:
            vec[names.index(t)] += c
            continue
        try:
            const += c * float(t) if t else c
        except ValueError:
            raise ValueError(
                f"unknown coefficient {t!r} in hypothesis {h!r} "
                f"(coefficients: {names})"
            ) from None
    return vec, const


def _parse_hypothesis(h: str, names: list[str]):
    """Parse one restriction: a bare coefficient name (= 0) or an equation
    ``"2*x1 - x2 = 1"`` / ``"x1 = x2"``. Returns (row over ``names``, rhs)."""
    h = h.strip()
    if h in names:  # bare name => coef = 0
        r = np.zeros(len(names))
        r[names.index(h)] = 1.0
        return r, 0.0
    if "=" not in h:
        raise ValueError(
            f"unknown coefficient or malformed hypothesis {h!r} "
            f"(coefficients: {names})"
        )
    lhs, rhs = h.split("=", 1)
    lv, lc = _parse_linear(lhs, names, h)
    rv, rc = _parse_linear(rhs, names, h)
    r = lv - rv
    if not np.any(r):
        raise ValueError(f"hypothesis {h!r} references no coefficients")
    return r, rc - lc


def _model_to_obj(m: "DbregModel") -> dict:
    from .plans.exprs import expr_to_obj

    return {
        "format": "dbreg_spark.ols/1",
        "yvar": m.yvar,
        "xvars": list(m.xvars),
        "fe": list(m.fe),
        "strategy": m.strategy,
        "vcov_type": m.vcov_type,
        "cluster_var": m.cluster_var,
        "nobs": m.nobs,
        "nobs_orig": m.nobs_orig,
        "df_residual": m.df_residual,
        "rss": m.rss,
        "tss": m.tss,
        "n_fe1": m.n_fe1,
        "n_fe2": m.n_fe2,
        "n_clusters": m.n_clusters,
        "collin_vars": list(m.collin_vars),
        "intercept": m.intercept,
        "demean_iterated": m.demean_iterated,
        "weight_col": m.weight_col,
        "coef_names": list(m.coef_names),
        "beta": [float(v) for v in m.coeftable["estimate"].to_numpy()],
        "vcov": np.asarray(m.vcov_).tolist(),
        "cat_levels": m.cat_levels,
        "fe_coef_names": sorted(m.fe_coef_names),
        "design": [
            {"name": n, "expr": expr_to_obj(e)}
            for n, e in zip(m.design_info.names, m.design_info.exprs)
        ]
        if m.design_info is not None
        else None,
        "numeric_vars": list(getattr(m.design_info, "numeric_vars", []))
        if m.design_info is not None
        else [],
    }


def _json_default(o):
    # numpy scalars (cell counts, integer factor levels) -> plain python
    if isinstance(o, np.integer):
        return int(o)
    if isinstance(o, np.floating):
        return float(o)
    if isinstance(o, np.bool_):
        return bool(o)
    raise TypeError(f"not JSON-serializable: {type(o)}")


def encode_key(v) -> dict:
    """Type-tagged JSON encoding for a dict key (split levels, relative
    times) — levels can be None/bool/int/float/str and must round-trip."""
    if v is None:
        return {"t": "none"}
    if isinstance(v, (bool, np.bool_)):
        return {"t": "bool", "v": bool(v)}
    if isinstance(v, (int, np.integer)):
        return {"t": "int", "v": int(v)}
    if isinstance(v, (float, np.floating)):
        return {"t": "float", "v": float(v)}
    return {"t": "str", "v": str(v)}


def decode_key(d: dict):
    t = d["t"]
    if t == "none":
        return None
    if t == "bool":
        return bool(d["v"])
    if t == "int":
        return int(d["v"])
    if t == "float":
        return float(d["v"])
    return d["v"]


def save_model(m: "DbregModel", path: str) -> None:
    """Serialize a fitted dbreg model to directory ``path``: ``model.json``
    (coefficients/vcov/metadata + the design expressions — the IR
    serializes losslessly) and, for compress models, the retained cell
    table as ``cells.parquet`` so ``predict(newdata=None)`` still works.
    Reload with :func:`load_model` / ``DbregModel.load``; the restored
    model supports predict/coef/se/vcov/confint/tidy/glance/wald."""
    import json
    import os

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "model.json"), "w") as f:
        json.dump(_model_to_obj(m), f, allow_nan=True, default=_json_default)
    if m.cells is not None:
        m.cells.to_parquet(os.path.join(path, "cells.parquet"))


def load_model(path: str, spark=None) -> "DbregModel":
    """Restore a model saved by :func:`save_model`. ``spark`` (or an active
    session) is needed only to predict on retained compress cells."""
    import json
    import os

    with open(os.path.join(path, "model.json")) as f:
        obj = json.load(f)
    if obj.get("format") != "dbreg_spark.ols/1":
        raise ValueError(f"unrecognized model format in {path}")
    return _obj_to_model(obj, path, spark)


def _obj_to_model(obj: dict, path: str, spark=None) -> "DbregModel":
    import os

    from .plans.exprs import expr_from_obj
    from .solve import gen_coeftable

    design = None
    if obj.get("design") is not None:
        from .design import DesignInfo

        design = DesignInfo(
            names=[d["name"] for d in obj["design"]],
            exprs=[expr_from_obj(d["expr"]) for d in obj["design"]],
            factor_levels={},
            numeric_vars=list(obj.get("numeric_vars", [])),
        )
    beta = np.asarray(obj["beta"], dtype=float)
    V = np.asarray(obj["vcov"], dtype=float)
    ct = gen_coeftable(beta, V, obj["df_residual"], obj["coef_names"])
    cells = None
    cp = os.path.join(path, "cells.parquet")
    if os.path.exists(cp):
        cells = pd.read_parquet(cp)
    if spark is None:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
    return DbregModel(
        coeftable=ct,
        vcov_=V,
        coef_names=list(obj["coef_names"]),
        yvar=obj["yvar"],
        xvars=list(obj["xvars"]),
        fe=list(obj["fe"]),
        strategy=obj["strategy"],
        vcov_type=obj["vcov_type"],
        cluster_var=obj["cluster_var"],
        nobs=obj["nobs"],
        nobs_orig=obj["nobs_orig"],
        df_residual=obj["df_residual"],
        rss=obj["rss"],
        tss=obj["tss"],
        n_fe1=obj["n_fe1"],
        n_fe2=obj["n_fe2"],
        n_clusters=obj["n_clusters"],
        collin_vars=list(obj["collin_vars"]),
        intercept=obj["intercept"],
        demean_iterated=obj["demean_iterated"],
        weight_col=obj["weight_col"],
        design_info=design,
        parsed=None,
        cells=cells,
        spark_session=spark,
        cat_levels=obj.get("cat_levels"),
        fe_coef_names=frozenset(obj.get("fe_coef_names", [])),
    )


def load_any_model(path: str, spark=None):
    """Dispatch on the saved artifact: a directory holding ``model.json``
    (OLS / GLM / 2SLS — resolved by its ``format`` tag), ``split.json``
    (split-sample results), ``study.json`` (event studies),
    ``binsreg.json`` (binscatter results), or ``boot.json`` (wild cluster
    bootstrap)."""
    import json
    import os

    if os.path.exists(os.path.join(path, "multi.json")):
        from .multi import load_multi

        return load_multi(path, spark)
    if os.path.exists(os.path.join(path, "split.json")):
        from .split import load_split

        return load_split(path, spark)
    if os.path.exists(os.path.join(path, "study.json")):
        from .eventstudy import load_event_study

        return load_event_study(path, spark)
    if os.path.exists(os.path.join(path, "binsreg.json")):
        from .binsreg import load_binsreg

        return load_binsreg(path, spark)
    if os.path.exists(os.path.join(path, "boot.json")):
        from .boot import load_bootstrap

        return load_bootstrap(path)
    with open(os.path.join(path, "model.json")) as f:
        fmt = json.load(f).get("format")
    if fmt == "dbreg_spark.ols/1":
        return load_model(path, spark)
    if fmt == "dbreg_spark.glm/1":
        from .glm import GlmModel

        return GlmModel.load(path, spark)
    if fmt == "dbreg_spark.iv/1":
        from .iv import load_iv_model

        return load_iv_model(path, spark)
    raise ValueError(f"unrecognized model format {fmt!r} in {path}")


def _bp_test(self, data):
    from .diagnostics import bp_test

    return bp_test(self, data)


def _white_test(self, data):
    from .diagnostics import white_test

    return white_test(self, data)


def _reset_test(self, data, powers=(2, 3)):
    from .diagnostics import reset_test

    return reset_test(self, data, powers)


def _jb_test(self, data):
    from .diagnostics import jb_test

    return jb_test(self, data)


def _bg_test(self, data, *, time, order=1, panel=None):
    from .diagnostics import bg_test

    return bg_test(self, data, time=time, order=order, panel=panel)


DbregModel.bg_test = _bg_test
DbregModel.jb_test = _jb_test
DbregModel.reset_test = _reset_test
DbregModel.bp_test = _bp_test
DbregModel.white_test = _white_test
DbregModel.save = lambda self, path: save_model(self, path)
DbregModel.load = staticmethod(load_model)
