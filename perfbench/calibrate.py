"""Calibrate the corpus tail (``inputs.TAIL_RATE``, ``inputs.TAIL_ZIPF``)
against real source code: the ``lucene_spark`` package itself.

Usage (from the repository root; ~1 minute, no Spark):

    python3 perfbench/calibrate.py

It tokenizes every ``lucene_spark/**/*.py`` file with the engine's own
analyzer and prints the file count, tokens, dictionary size, distinct terms
per file, the share of dictionary terms that occur once (``ttf=1``) or in
one file (``df=1``), and the dictionary growth curve ``V(n)`` (distinct
terms after ``n`` tokens, averaged over random file orders) with its Heaps'
law fit ``V = K * n**beta``.

The benchmark corpus is ``generate_corpus`` (a fixed ~2k-word vocabulary)
plus, per document, Poisson(``rate``) identifiers whose ranks are drawn from
Zipf(``exponent``). ``rate`` is measured: the generator covers the real
vocabulary's head, so the tail stands for the real tokens whose term ranks
below the generator's dictionary size, and ``rate`` gives them the same
share of the corpus's tokens. ``exponent`` is then fitted so that the
corpus's own dictionary growth curve matches the real one (least squares on
``log V`` over the measured range). Last, the script prints the dictionary
sizes of the corpus at 10k and 20k documents. ``perfbench/README.md`` records the
output the constants in ``inputs.py`` were set from.
"""

from __future__ import annotations

import glob
import os
import sys

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.dirname(os.path.abspath(__file__))]

from lucene_spark.functions.analysis import analyze_batch  # noqa: E402
from lucene_spark.sources.corpus import generate_corpus  # noqa: E402

import inputs  # noqa: E402


def per_doc_terms(texts: list[str]) -> list[np.ndarray]:
    doc_idx, terms, _, _ = analyze_batch(pd.Series(texts))
    bounds = np.searchsorted(doc_idx, np.arange(len(texts) + 1))
    return [terms[bounds[i]:bounds[i + 1]].astype(str) for i in range(len(texts))]


def growth(docs: list[np.ndarray], grid: np.ndarray, orders: int) -> np.ndarray:
    """Distinct terms after each ``grid`` token count, mean over
    ``orders`` seeded random document orders."""
    curves = []
    for seed in range(orders):
        order = np.random.RandomState(seed).permutation(len(docs))
        stream = np.concatenate([docs[i] for i in order])
        _, first = np.unique(stream, return_index=True)
        curves.append(np.searchsorted(np.sort(first), grid))
    return np.mean(curves, axis=0)


def describe(docs: list[np.ndarray]) -> dict:
    ttf: dict[str, int] = {}
    df: dict[str, int] = {}
    for d in docs:
        u, c = np.unique(d, return_counts=True)
        for t, n in zip(u.tolist(), c.tolist()):
            ttf[t] = ttf.get(t, 0) + n
            df[t] = df.get(t, 0) + 1
    v = len(ttf)
    return {"docs": len(docs), "tokens": int(sum(len(d) for d in docs)),
            "terms": v,
            "distinct_per_doc_median": float(np.median([len(set(d)) for d in docs])),
            "ttf1_share": sum(n == 1 for n in ttf.values()) / v,
            "df1_share": sum(n == 1 for n in df.values()) / v,
            "ttf": ttf}


def with_tail(base: list[np.ndarray], rate: float, exponent: float,
              seed: int) -> list[np.ndarray]:
    """``base`` documents plus the tail ``inputs.make_corpus`` appends."""
    names = inputs.tail_names(len(base), seed, rate, exponent)
    return [np.concatenate([b, np.asarray(n, dtype=str)]) for b, n in zip(base, names)]


def main() -> None:
    files = sorted(glob.glob(os.path.join(ROOT, "lucene_spark", "**", "*.py"),
                             recursive=True))
    texts = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            texts.append(fh.read())
    real = per_doc_terms(texts)
    stats = describe(real)
    ttf = np.sort(np.fromiter(stats.pop("ttf").values(), dtype=float))[::-1]
    print("real code (lucene_spark/**/*.py):", stats)
    grid = np.unique(np.geomspace(10_000, stats["tokens"], 12).astype(int))
    v_real = growth(real, grid, orders=8)
    beta, log_k = np.polyfit(np.log(grid), np.log(v_real), 1)
    print(f"growth V(n) at n={grid.tolist()}: {np.round(v_real).astype(int).tolist()}")
    print(f"Heaps fit: K={np.exp(log_k):.3f} beta={beta:.3f}")

    # enough base documents to cover the measured token range with any tail
    base = per_doc_terms(list(generate_corpus(2000, seed=1)["content"]))
    base_stats = describe(base)
    base_stats.pop("ttf")
    print("generate_corpus, 2000 docs:", base_stats)
    beyond = float(ttf[base_stats["terms"]:].sum() / ttf.sum())
    per_doc = base_stats["tokens"] / base_stats["docs"]
    rate = round(per_doc * beyond / (1 - beyond))
    print(f"real tokens ranked beyond {base_stats['terms']}: {beyond:.4f} "
          f"-> rate={rate} per document")
    best = None
    for exponent in np.arange(1.02, 1.301, 0.02):
        v = growth(with_tail(base, rate, exponent, seed=1), grid, orders=1)
        err = float(np.sqrt(np.mean(np.log(v / v_real) ** 2)))
        if best is None or err < best[0]:
            best = (err, round(float(exponent), 2), np.round(v).astype(int).tolist())
    print(f"fit: exponent={best[1]} (rms log error {best[0]:.3f}); V(n) {best[2]}")
    print(f"in use:   rate={inputs.TAIL_RATE} exponent={inputs.TAIL_ZIPF}")
    for n in (10_000, 20_000):
        corpus = inputs.make_corpus(n, seed=1, tail=True)
        stats = describe(per_doc_terms(list(corpus["content"])))
        stats.pop("ttf")
        print(f"benchmark corpus, {n} docs:", stats)


if __name__ == "__main__":
    main()
