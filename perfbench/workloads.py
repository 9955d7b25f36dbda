"""Workload catalogues: the calls each workload makes, the reference answer
each call is checked against, and the input sizes.

A spec's ``run`` is the timed call. It receives the loaded inputs and
returns whatever the library returned, with any lazy result forced the way
a user would (``collect`` for small outputs, a parquet write for the
predictions). ``oracle`` computes the reference once per seed from
the generated inputs, outside Spark; ``check`` compares the two and
returns a list of mismatches (empty when the answer is right).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from . import oracles as O

LI_FE2 = "l_returnflag + l_linestatus"


@dataclass
class Spec:
    name: str
    run: Callable[[Any], Any]
    oracle: Callable[[Any], Any]
    check: Callable[[Any, Any], list[str]]


@dataclass
class Workload:
    name: str
    tables: dict  # scale -> {table: size}
    table: str  # the input every call reads (its rows count as call input)
    cycles_min: int
    # False: the inputs are the same for every seed (generated from seed 0,
    # so the DuckDB oracles run once per checkout); the seed then drives the
    # call order only
    seeded_data: bool = True


# ---------------------------------------------------------------- checks


def _model_check(m, o) -> list[str]:
    coef, se = m.coef(), m.se()
    return O.close(dict(coef), o["coef"]) + [
        "se " + b for b in O.close(dict(se), o["se"])
    ]


def _multi_check(mm, o) -> list[str]:
    bad = []
    if len(mm) != len(o):
        bad.append(f"{len(mm)} models, want {len(o)}")
    for m in mm:
        key = f"{m.yvar}~{'+'.join(sorted(m.xvars))}"
        if key not in o:
            bad.append(f"unexpected model {key}")
            continue
        bad += [f"{key} {b}" for b in _model_check(m, o[key])]
    return bad


def _split_check(res, o) -> list[str]:
    bad = []
    if sorted(str(k) for k in res) != sorted(o):
        bad.append(f"levels {len(res)}, want {len(o)}")
    for lvl, m in res.items():
        if str(lvl) in o:
            bad += [f"seg={lvl} {b}" for b in _model_check(m, o[str(lvl)])]
    return bad


def _bins_check(r, o) -> list[str]:
    p = r.points.sort_values("bin")
    bad = []
    if len(p) != len(o["fit"]):
        return [f"{len(p)} bins, want {len(o['fit'])}"]
    for col in ("fit", "x", "se"):
        bad += [
            f"{col} {b}"
            for b in O.close(dict(enumerate(p[col].tolist())), dict(enumerate(o[col])))
        ]
    return bad


def _rows_check(rows, o, rtol=1e-9) -> list[str]:
    got = sorted([O.plain(v) for v in r] for r in rows)
    if len(got) != len(o):
        return [f"{len(got)} rows, want {len(o)}"]
    for g, w in zip(got, o):
        for a, b in zip(g, w):
            if isinstance(b, float):
                if abs(a - b) > rtol * max(abs(b), 1.0):
                    return [f"row {g} != {w}"]
            elif a != b:
                return [f"row {g} != {w}"]
    return []


# ------------------------------------------------------- interactive_mix


def _li(ctx):
    return ctx.dfs["lineitem"]


def _interactive_specs() -> list[Spec]:
    from dbreg_spark import (
        dbbinsreg,
        dbglm,
        dbiv,
        dbreg,
        dbreg_multi,
        dbreg_split,
    )

    fe2 = ["l_returnflag", "l_linestatus"]
    fe3 = fe2 + ["l_linenumber"]
    xs = ["l_quantity", "l_discount"]
    specs = [
        Spec(
            "compress_hc1",
            lambda c: dbreg(f"l_tax ~ l_quantity + l_discount | {LI_FE2}", _li(c),
                            strategy="compress", vcov="hc1"),
            lambda p: O.ols(p, "l_tax", xs, fe2, "hc1"),
            _model_check,
        ),
        Spec(
            "auto_iid",
            lambda c: dbreg(f"l_tax ~ l_quantity + l_discount | {LI_FE2}", _li(c),
                            strategy="auto", vcov="iid"),
            lambda p: O.ols(p, "l_tax", xs, fe2, "iid"),
            _model_check,
        ),
        Spec(
            "moments_cluster",
            lambda c: dbreg("l_extendedprice ~ l_quantity + l_discount", _li(c),
                            strategy="moments", vcov="~seg"),
            lambda p: O.ols(p, "l_extendedprice", xs, (), "cluster", "seg"),
            _model_check,
        ),
        Spec(
            "demean2_hc1",
            lambda c: dbreg(f"l_extendedprice ~ l_quantity + l_discount | {LI_FE2}",
                            _li(c), strategy="demean", vcov="hc1"),
            lambda p: O.ols(p, "l_extendedprice", xs, fe2, "hc1"),
            _model_check,
        ),
        Spec(
            "demean3_iter_cluster",
            lambda c: dbreg(
                f"l_extendedprice ~ l_quantity + l_discount | {LI_FE2} + l_linenumber",
                _li(c), strategy="demean", vcov="~seg"),
            lambda p: O.ols(p, "l_extendedprice", xs, fe3, "cluster", "seg"),
            _model_check,
        ),
        Spec(
            "mundlak_cluster",
            lambda c: dbreg("l_extendedprice ~ l_quantity + l_discount | l_returnflag",
                            _li(c), strategy="mundlak", vcov="~seg"),
            # with one 3-level FE, [1, group means] spans the FE dummies, so
            # the CRE fit is the LSDV fit
            lambda p: O.ols(p, "l_extendedprice", xs, ["l_returnflag"], "cluster", "seg"),
            _model_check,
        ),
        Spec(
            "logit_hc1",
            lambda c: dbglm("is_return ~ l_quantity + l_discount", _li(c),
                            family="binomial", vcov="hc1"),
            lambda p: O.glm(p, "is_return", xs, "binomial", (), "hc1"),
            _model_check,
        ),
        Spec(
            "fepois_cluster",
            lambda c: dbglm("l_linenumber ~ l_quantity + l_discount | l_returnflag",
                            _li(c), family="poisson", vcov="~seg"),
            lambda p: O.glm(p, "l_linenumber", xs, "poisson", ["l_returnflag"],
                            "cluster", "seg"),
            _model_check,
        ),
        Spec(
            "binsreg20",
            lambda c: dbbinsreg("l_tax ~ l_extendedprice", _li(c), points=(0, 0),
                                nbins=20, vcov="hc1"),
            lambda p: O.binscatter(p, "l_tax", "l_extendedprice", 20),
            _bins_check,
        ),
        Spec(
            "iv_cluster",
            lambda c: dbiv("l_extendedprice ~ l_discount | l_quantity ~ z_half",
                           _li(c), vcov="~seg"),
            lambda p: O.iv_2sls(p, "l_extendedprice", ["l_discount"],
                                ["l_quantity"], ["z_half"], "seg"),
            _model_check,
        ),
        Spec(
            "multi_csw_hc1",
            lambda c: dbreg_multi(
                "c(l_extendedprice, l_tax) ~ l_quantity + csw(l_discount, l_linenumber)",
                _li(c), vcov="hc1", strategy="moments"),
            lambda p: {
                f"{y}~{'+'.join(sorted(x))}": O.ols(p, y, x, (), "hc1")
                for y in ("l_extendedprice", "l_tax")
                for x in (xs, xs + ["l_linenumber"])
            },
            _multi_check,
        ),
        Spec(
            "split50_cluster",
            lambda c: dbreg_split("l_extendedprice ~ l_quantity + l_discount", _li(c),
                                  split="seg", strategy="moments",
                                  vcov="~l_returnflag"),
            lambda p: {
                str(lvl): O.ols(g, "l_extendedprice", xs, (), "cluster",
                                "l_returnflag")
                for lvl, g in p.groupby("seg")
            },
            _split_check,
        ),
        Spec("predict_write", _predict_write, _fitted_oracle, _fitted_check),
    ]
    return specs


# ---------------------------------------------------------- corpus_dedup


def _predict_write(c):
    from dbreg_spark import dbreg
    from dbreg_spark.sources.io import write_parquet

    m = dbreg(f"l_tax ~ l_quantity + l_discount | {LI_FE2}", _li(c),
              strategy="compress", vcov="iid")
    out = os.path.join(c.out_dir, "predictions.parquet")
    write_parquet(m.predict(_li(c)), out, mode="overwrite")
    return out


def _fitted_oracle(p) -> dict:
    X, _ = O.design(p, ["l_quantity", "l_discount"], ["l_returnflag", "l_linestatus"])
    beta = np.linalg.lstsq(X, p["l_tax"].to_numpy(float), rcond=None)[0]
    fit = X @ beta
    return {"n": len(fit), "sum": float(fit.sum()), "sumsq": float(fit @ fit)}


def _fitted_check(path, o) -> list[str]:
    import pyarrow.parquet as pq

    fit = pq.read_table(path, columns=["fit"]).column("fit").to_numpy()
    if len(fit) != o["n"]:
        return [f"{len(fit)} rows written, want {o['n']}"]
    got = {"sum": float(fit.sum()), "sumsq": float(fit @ fit)}
    return O.close(got, {"sum": o["sum"], "sumsq": o["sumsq"]}, rtol=1e-9)


def _corpus_specs() -> list[Spec]:
    from dbreg_spark import corpus_pipeline
    from dbreg_spark.operators import dedup
    from dbreg_spark.pipeline import corpus_pipeline_sql

    mh = dict(n_hashes=16, band_rows=2, shingle_words=2, jaccard_threshold=0.3)
    ng = dict(shingle_words=3, threshold=0.5, max_df=300)
    return [
        Spec(
            "pipeline",
            lambda c: corpus_pipeline(c.dfs["documents"]).collect(),
            lambda q: q(corpus_pipeline_sql("documents")),
            _rows_check,
        ),
        Spec(
            "minhash_pairs",
            lambda c: dedup.minhash_lsh_pairs(c.dfs["documents"], **mh).collect(),
            lambda q: q(dedup.minhash_lsh_pairs_sql("documents", **mh)),
            _rows_check,
        ),
        Spec(
            "ngram_pairs",
            lambda c: dedup.ngram_jaccard_pairs(c.dfs["documents"], **ng).collect(),
            lambda q: q(dedup.ngram_jaccard_pairs_sql("documents", **ng)),
            _rows_check,
        ),
        Spec(
            "ngram_pairs_hot",
            lambda c: dedup.ngram_jaccard_pairs(c.dfs["documents_hot"], **ng).collect(),
            lambda q: q(dedup.ngram_jaccard_pairs_sql("documents_hot", **ng)),
            _rows_check,
        ),
        Spec(
            "minhash_pairs_hot",
            lambda c: dedup.minhash_lsh_pairs(c.dfs["documents_hot"], **mh).collect(),
            lambda q: q(dedup.minhash_lsh_pairs_sql("documents_hot", **mh)),
            _rows_check,
        ),
        Spec(
            "exact_dups",
            lambda c: dedup.exact_duplicates(c.dfs["documents"]).collect(),
            lambda q: q(dedup.exact_duplicates_sql("documents")),
            _rows_check,
        ),
        Spec(
            "exact_dups_hot",
            lambda c: dedup.exact_duplicates(c.dfs["documents_hot"]).collect(),
            lambda q: q(dedup.exact_duplicates_sql("documents_hot")),
            _rows_check,
        ),
    ]


# interactive_mix stresses fixed per-call cost (jobs, probes, planning, py4j);
# corpus_dedup runs operators and pipeline that no regression change touches,
# so each is the other's no-change control. Their reasons and sizes are in
# BENCHMARK.json and METRICS.md.
WORKLOADS = {
    "interactive_mix": Workload(
        name="interactive_mix",
        tables={"full": {"lineitem": 60_000}, "tiny": {"lineitem": 6_000}},
        table="lineitem",
        cycles_min=2,
    ),
    "corpus_dedup": Workload(
        name="corpus_dedup",
        tables={"full": {"documents": 600}, "tiny": {"documents": 120}},
        table="documents",
        cycles_min=4,
        seeded_data=False,
    ),
}


def load_specs(workload: Workload) -> list[Spec]:
    """Import the library and build the workload's catalogue."""
    if workload.name == "interactive_mix":
        return _interactive_specs()
    return _corpus_specs()


def compute_oracles(workload: Workload, specs: list[Spec], paths: dict) -> dict:
    """Reference answers for every spec, computed outside Spark."""
    if workload.name == "interactive_mix":
        import pandas as pd

        pdf = pd.read_parquet(paths["lineitem"])
        return {s.name: s.oracle(pdf) for s in specs}
    views = {k: v for k, v in paths.items() if k in ("documents", "documents_hot")}
    return {s.name: s.oracle(lambda sql: O.duck_rows(views, sql)) for s in specs}


def order(specs: list[Spec], seed: int, cycle: int) -> list[Spec]:
    """The call order of one cycle. The first cycle runs in catalogue order,
    so first-call costs (code generation, JIT) land on the same calls in
    every run; later cycles are seeded permutations of the catalogue."""
    if cycle == 0:
        return list(specs)
    rng = np.random.default_rng([seed, 1000 + cycle])
    return [specs[i] for i in rng.permutation(len(specs))]


# every spec name per workload, known without importing the library, so a
# traced run of either workload prints the same per-layer metric set
SPEC_NAMES = {
    "interactive_mix": [
        "compress_hc1", "auto_iid", "moments_cluster", "demean2_hc1",
        "demean3_iter_cluster", "mundlak_cluster", "logit_hc1", "fepois_cluster",
        "binsreg20", "iv_cluster", "multi_csw_hc1", "split50_cluster",
        "predict_write",
    ],
    "corpus_dedup": [
        "pipeline", "minhash_pairs", "ngram_pairs", "ngram_pairs_hot",
        "minhash_pairs_hot", "exact_dups", "exact_dups_hot",
    ],
}
