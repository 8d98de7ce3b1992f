"""Seeded benchmark inputs: corpus, query sets and delete terms.

Everything here is a pure function of its arguments: the same seed gives
the same corpus, the same queries and the same delete terms.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from lucene_spark.plans import query as Q
from lucene_spark.plans.parser import parse
from lucene_spark.sources.corpus import generate_corpus
from lucene_spark.sources.queryset import generate_query_set

# The tail: Poisson(TAIL_RATE) identifiers per document, ranks drawn from
# Zipf(TAIL_ZIPF). Both come from ``calibrate.py``, which measures real
# source code (the lucene_spark package): TAIL_RATE gives the tail the share
# of real tokens whose terms lie beyond the generator's dictionary size, and
# TAIL_ZIPF is the exponent whose dictionary growth curve is closest to the
# real one. perfbench/README.md records the measurement.
TAIL_RATE = 33
TAIL_ZIPF = 1.12

_TAIL_STEMS = ["get", "set", "run", "cfg", "idx", "buf", "ptr", "ctx", "tmp",
               "val", "node", "tree", "map", "hash", "scan", "emit", "token",
               "query", "merge", "flush", "score", "codec", "field", "block"]


def _tail_identifier(rank: int) -> str:
    return f"{_TAIL_STEMS[rank % len(_TAIL_STEMS)]}_{rank:x}"


def tail_names(num_docs: int, seed: int, rate: float = TAIL_RATE,
               exponent: float = TAIL_ZIPF) -> list[list[str]]:
    """Per document, the tail identifiers ``make_corpus`` appends."""
    rng = np.random.RandomState(seed + 7919)
    counts = rng.poisson(rate, size=num_docs)
    ranks = rng.zipf(exponent, size=int(counts.sum())) % 2_000_000
    names = [_tail_identifier(int(r)) for r in ranks]
    bounds = np.concatenate(([0], np.cumsum(counts)))
    return [names[bounds[i]:bounds[i + 1]] for i in range(num_docs)]


def make_corpus(num_docs: int, seed: int, tail: bool) -> pd.DataFrame:
    """``generate_corpus``, with ``tail`` plus a seeded Zipf tail of rare
    identifiers as a last line of each document.

    The base generator draws every token from a fixed ~2k-word vocabulary,
    so its term dictionary stays tiny however many documents it makes; real
    source code keeps adding identifiers (see ``calibrate.py``).
    """
    pdf = generate_corpus(num_docs, seed=seed)
    if tail:
        content = pdf["content"].to_numpy(dtype=object)
        pdf["content"] = [c + "\n" + " ".join(names) + ";"
                          for c, names in zip(content, tail_names(num_docs, seed))]
    return pdf


def search_queries(term_dfs: dict[str, int], seed: int) -> dict[str, str]:
    """40 selective queries in classic syntax (the ``search`` workload's
    ``search_many`` batch): 20 terms drawn from df bands of the FULL term
    dictionary (every fifth one absent), 12 two/three-term ANDs and 8 ORs."""
    return generate_query_set(term_dfs, seed=seed, n_term=20, n_and=12,
                              n_or=8, n_phrase=0)


# The ``search`` closed loop's share of the batch, interleaved so any prefix
# mixes kinds: the four df bands, the absent term, two ANDs and an OR.
LOOP_QUERIES = ("term_00", "and_00", "or_00", "term_01", "and_01",
                "term_02", "term_03", "term_04")


def positional_specs(term_dfs: dict[str, int]) -> list[tuple]:
    """Positional query specs ``(shape, terms, slop)`` over the five
    highest-df terms ``t0..t4`` of the corpus (JSON-safe; see
    ``positional_query``). The shapes and term ranks are fixed, so seeds
    differ only in the corpus the queries run on. Five of the eight repeat
    a term or span many positions, so that on the median query the scoring
    kernel, not Spark, takes most of the wall time."""
    t = sorted(term_dfs, key=lambda x: (-term_dfs[x], x))[:5]
    return [
        ("phrase", [t[0], t[1]], 0),
        ("interval", [t[0], t[1], t[3]], 3),
        ("span_near", [t[0], t[0], t[1]], 8),
        ("sloppy", [t[0], t[1], t[2], t[3], t[4]], 10),
        ("repeat_sloppy", [t[0], t[1], t[0]], 3),
        ("repeat_sloppy", [t[0], t[1], t[0]], 8),
        ("repeat_sloppy", [t[0], t[1], t[0], t[1]], 6),
        ("repeat_sloppy", [t[1], t[2], t[1]], 4),
    ]


def positional_query(spec) -> Q.Query:
    shape, terms, slop = spec
    terms = tuple(terms)
    if shape in ("phrase", "sloppy", "repeat_sloppy"):
        return Q.Phrase(terms, slop=slop)
    if shape == "span_near":
        return Q.SpanNear(terms, slop=slop, in_order=False)
    if shape == "interval":
        return Q.Interval(("maxgaps", ("ordered", tuple(("term", t) for t in terms)),
                           slop))
    raise ValueError(shape)


def spec_id(spec) -> str:
    shape, terms, slop = spec
    return f"{shape}:{'+'.join(terms)}~{slop}"


def to_query(q) -> Q.Query:
    """A work item as a query: classic syntax, or a positional spec."""
    return parse(q) if isinstance(q, str) else positional_query(q)


def delete_terms(term_dfs: dict[str, int], num_docs: int, seed: int,
                 count: int) -> list[str]:
    """Seeded mid-df terms (each in 0.5%-2% of the documents) to delete by."""
    lo, hi = 0.005 * num_docs, 0.02 * num_docs
    band = sorted(t for t, df in term_dfs.items() if lo <= df <= hi)
    rng = np.random.RandomState(seed + 1299709)
    return [band[i] for i in sorted(rng.choice(len(band), size=count, replace=False))]
