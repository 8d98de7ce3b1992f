"""Expected results from ``lucene_spark.oracle.OracleIndex``, cached.

The oracle is pure Python. On a 4-vCPU VM it indexes the 10k-document
corpus in 3-5 s and answers a positional query on the highest-df terms in
0.3-1.7 s (~12 s for a workload's inputs, ~5 s for the selective ones).
That cost stays outside every timed region: the results are computed once
per (workload, size, seed, fingerprint) and cached as JSON under the work
directory. The fingerprint hashes the corpus and the source of everything
the expected results come from, so a change to any of it never reuses a
stale entry.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from inputs import to_query
from lucene_spark.oracle import OracleIndex

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# the oracle, the analysis/scoring/query code it calls, the corpus and
# query-set generators, and this benchmark's input and oracle code
_SOURCES = ("lucene_spark/oracle.py", "lucene_spark/functions/*.py",
            "lucene_spark/plans/*.py", "lucene_spark/sources/*.py",
            "perfbench/inputs.py", "perfbench/expected.py")


def fingerprint(pdf) -> str:
    h = hashlib.sha256()
    for pattern in _SOURCES:
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            with open(path, "rb") as f:
                h.update(path[len(ROOT):].encode() + b"\0" + f.read())
    for doc_id, text in zip(pdf["doc_id"].tolist(), pdf["content"].tolist()):
        h.update(f"{doc_id}\0{text}\0".encode())
    return h.hexdigest()[:20]


def compute(pdf, make_work) -> dict:
    """Index ``pdf`` with the oracle; ``make_work(term_dfs)`` returns the
    work: ``queries`` (qid -> query string or positional spec, decoded by
    the caller's ``to_query``) and ``delete_terms``. Returns the work,
    ``expected`` (qid -> [[doc_id, score], ...] top-10) and
    ``deleted_docs`` (documents holding any delete term)."""
    index = OracleIndex.build(list(zip(pdf["doc_id"].tolist(),
                                       pdf["content"].tolist())))
    work = make_work({t: len(p) for t, p in index.postings.items()})
    expected = {qid: [[int(d), float(s)] for d, s in index.top_k(to_query(q), 10)]
                for qid, q in work["queries"].items()}
    deleted = set()
    for t in work["delete_terms"]:
        deleted.update(d for d, _, _ in index.postings.get(t, ()))
    return {"work": work, "expected": expected, "deleted_docs": len(deleted)}


def load_or_compute(cache_path: str, pdf, make_work) -> dict:
    """``compute`` behind a JSON file cache at ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    res = compute(pdf, make_work)
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = cache_path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, cache_path)
    return res
