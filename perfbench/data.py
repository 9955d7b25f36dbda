"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``(workload scale, seed)``: the same seed
writes byte-identical values. Tables are written once per seed under the
benchmark's work directory and reused by later runs with that seed; the
generation time is never part of a measured figure.

``lineitem`` mimics the TPC-H lineitem columns the regression
catalogue reads, with the seeded derived columns (``is_return``, ``seg``,
``z_half``) stored alongside, so the program under test only ever scans
parquet. ``l_returnflag`` x ``l_linestatus`` is an exactly balanced
6-cell design, so the single-pass 2-FE double demeaning is exact TWFE
and one LSDV oracle checks every FE strategy.

``documents`` mimics the TPC-H-style testdata corpus (small vocabulary, a few percent
near- and exact duplicates); ``documents_hot`` is its twin with a
boilerplate prefix shared by every document, which pushes the prefix
shingles past the ``max_df`` guard of ``ngram_jaccard_pairs``.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data spark table query join scan sort hash group agg filter "
    "window stream batch row column key value order line part customer "
    "vector merge index fast slow big small partition shuffle cache plan "
    "node task stage job driver memory disk"
).split()
LANGS = ["en", "zh", "es", "fr", "de", "ja"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.10, 0.04]
HOT_PREFIX = "common boilerplate header shared across this corpus "
# bump when a generator changes, so cached inputs and oracles are rebuilt
VERSION = 2


def lineitem(n_rows: int, seed: int) -> pd.DataFrame:
    """A lineitem-like table of ``n_rows`` rows (a multiple of 6)."""
    if n_rows % 6:
        raise ValueError("n_rows must be a multiple of 6 (balanced FE cells)")
    rng = np.random.default_rng([seed, 1])
    n = n_rows
    cell = rng.permutation(n) % 6
    rf = np.array(["A", "N", "R"])[cell // 2]
    ls = np.array(["F", "O"])[cell % 2]
    # regressors shift with the FE cells (not along one line across the
    # three l_returnflag groups), so the Mundlak group means are well posed
    qty = np.clip(rng.integers(1, 51, n) + 4 * (cell // 2) - 2 * (cell % 2), 1, 50).astype(float)
    disc = (rng.integers(0, 11, n) + np.array([0, 2, 1])[cell // 2] + cell % 2) / 100.0
    partkey = rng.integers(1, 20_001, n)
    unit = 900.0 + (partkey % 1000) * 1.1 + rng.normal(0, 40, n)
    price = np.round(qty * unit * (1.0 - 0.5 * disc), 2)
    rf_eff = np.array([0.0, 0.004, -0.003])[cell // 2]
    tax = 0.04 + 0.0004 * qty - 0.08 * disc + rf_eff + rng.normal(0, 0.01, n)
    lam = np.exp(0.6 + 0.008 * qty - 1.5 * disc + np.array([0.0, 0.2, -0.1])[cell // 2])
    linenumber = rng.poisson(lam)
    eta = -1.2 + 0.02 * qty - 4.0 * disc
    is_return = (rng.random(n) < 1.0 / (1.0 + np.exp(-eta))).astype(float)
    orderkey = np.sort(rng.integers(1, n // 4 + 1, n))
    return pd.DataFrame(
        {
            "l_orderkey": orderkey.astype("int64"),
            "l_partkey": partkey.astype("int64"),
            "l_suppkey": rng.integers(1, 1_001, n).astype("int64"),
            "l_linenumber": linenumber.astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": rf,
            "l_linestatus": ls,
            "is_return": is_return,
            "seg": rng.integers(0, 50, n).astype("int64"),
            "z_half": np.floor(qty / 2.0) + disc,
        }
    )


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """A documents corpus with ~4% near-duplicates and ~1% exact copies."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        u = rng.random()
        if i > 10 and u < 0.04:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(1 + len(src) // 40):
                src[int(rng.integers(0, len(src)))] = str(rng.choice(words))
            texts.append(" ".join(src))
        elif i > 10 and u < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(words, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{j}" for j in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )


def _write(pdf: pd.DataFrame, path: str, row_group: int) -> None:
    tmp = path + ".tmp"
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), tmp, row_group_size=row_group
    )
    os.replace(tmp, path)


def table_paths(root: str, spec: dict, seed: int) -> dict[str, str]:
    """``{table: parquet path}`` for the tables ``spec`` names, which maps a
    table to its size: ``{"lineitem": 60_000}`` or ``{"documents": 600}``."""
    d = os.path.join(root, f"v{VERSION}-seed-{seed}")
    out = {}
    for table, size in spec.items():
        out[table] = os.path.join(d, f"{table}-{size}.parquet")
        if table == "documents":
            out["documents_hot"] = os.path.join(d, f"documents_hot-{size}.parquet")
    return out


def ensure_tables(root: str, spec: dict, seed: int) -> dict[str, str]:
    """Write the tables ``spec`` asks for (once per seed); return their paths."""
    out = table_paths(root, spec, seed)
    os.makedirs(os.path.dirname(next(iter(out.values()))), exist_ok=True)
    for table, size in spec.items():
        if table == "documents":
            if os.path.exists(out["documents"]) and os.path.exists(out["documents_hot"]):
                continue
            docs = documents(size, seed)
            _write(docs, out["documents"], 100_000)
            hot_docs = docs.assign(text=HOT_PREFIX + docs["text"])
            _write(hot_docs.assign(n_chars=hot_docs["text"].str.len()), out["documents_hot"], 100_000)
        elif table == "lineitem":
            if not os.path.exists(out["lineitem"]):
                _write(lineitem(size, seed), out["lineitem"], 200_000)
        else:
            raise ValueError(f"unknown table {table!r}")
    return out
