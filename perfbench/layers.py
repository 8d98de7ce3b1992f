"""Per-layer probes for the traced run.

Each probe times calls into one layer's public functions on a fixed seeded
sample, in this process, with inputs prepared outside the timed region.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from lucene_spark.functions.analysis import analyze_batch
from lucene_spark.functions.codec import decode_postings, encode_postings_batch
from lucene_spark.operators.build import invert_segment
from lucene_spark.operators.search import _compiled_terms, score_segment
from lucene_spark.plans import query as Q
from lucene_spark.plans.parser import parse as parse_query

_STREAMS = ("doc_bytes", "tf_bytes", "pos_bytes")


def _median_time(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def analysis_and_invert(sample: pd.DataFrame) -> dict:
    """1-core docs/s of the analyzer alone and of the whole segment kernel
    (analyze → invert → encode) on the same sample."""
    texts = sample["content"]
    t_an = _median_time(lambda: analyze_batch(texts))
    t_inv = _median_time(lambda: invert_segment(sample, 0, "content", "doc_id",
                                                frozenset(), True))
    return {"analysis.docs_per_s_1core": len(sample) / t_an,
            "build.kernel_docs_per_s_1core": len(sample) / t_inv}


def codec(seg_dir: str) -> dict:
    """MB/s of ``decode_postings`` (with positions) and of
    ``encode_postings_batch`` over every term of one segment; MB counts the
    encoded doc/tf/position streams."""
    rows = pq.read_table(os.path.join(seg_dir, "postings.parquet")).to_pylist()
    norms = pq.read_table(os.path.join(seg_dir, "norms.parquet")).to_pylist()[0]
    norm_bytes = np.frombuffer(norms["norm_bytes"], dtype=np.uint8)
    mb = sum(len(r[k]) for r in rows for k in _STREAMS) / 1e6
    # one timed pass: decoding every term of a segment takes seconds
    t0 = time.perf_counter()
    dec = [decode_postings(r, with_positions=True) for r in rows]
    t_dec = time.perf_counter() - t0
    doc_ids = np.concatenate([d["doc_ids"] for d in dec])
    tfs = np.concatenate([d["tfs"] for d in dec])
    positions = np.concatenate([d["positions"] for d in dec])
    offsets = np.concatenate(([0], np.cumsum([len(d["doc_ids"]) for d in dec])))
    t_enc = _median_time(lambda: encode_postings_batch(
        doc_ids, tfs, positions, norm_bytes, offsets))
    return {"codec.decode_mb_per_s": mb / t_dec,
            "codec.encode_mb_per_s": mb / t_enc}


def parse_ms(queries: list) -> float:
    """Mean ms of ``parse_query`` + ``rewrite_fixed_point`` per query."""
    def run():
        for q in queries:
            Q.rewrite_fixed_point(parse_query(q) if isinstance(q, str) else q)
    return _median_time(run) / len(queries) * 1e3


class KernelProbe:
    """``score_segment`` run serially over every segment of an index, with
    the queries' postings read via pyarrow outside the timing."""

    def __init__(self, searcher):
        self.searcher = searcher
        self.segments = []
        for sid in searcher.snapshot.seg_ids:
            d = searcher.catalog.segment_dir(sid)
            norms = pq.read_table(os.path.join(d, "norms.parquet")).to_pylist()[0]
            self.segments.append((
                os.path.join(d, "postings.parquet"),
                np.frombuffer(norms["norm_bytes"], dtype=np.uint8),
                np.frombuffer(norms["global_doc_ids"], dtype="<i8")))

    def run(self, queries: dict) -> dict[str, dict]:
        """Per query id: serial kernel seconds, postings bytes read, hits
        and segments holding any of its terms. Each segment's postings are
        read once, for the union of the queries' terms."""
        compiled = {qid: self.searcher._compile(q) for qid, q in queries.items()}
        terms = {qid: sorted(set(_compiled_terms(c))) for qid, (c, _) in compiled.items()
                 if c is not None}
        union = pa.array(sorted({t for ts in terms.values() for t in ts}))
        out = {qid: {"kernel_s": 0.0, "postings_bytes": 0, "hits": 0, "segments_hit": 0}
               for qid in queries}
        for path, norm_bytes, gids in self.segments:
            table = pq.read_table(path, filters=[("term", "in", union)])
            seg_rows = {r["term"]: r for r in table.to_pylist()}
            for qid, ts in terms.items():
                rows = {t: seg_rows[t] for t in ts if t in seg_rows}
                r = out[qid]
                if rows:
                    r["segments_hit"] += 1
                r["postings_bytes"] += sum(len(row[k]) for row in rows.values()
                                           for k in _STREAMS)
                c, cache = compiled[qid]
                t0 = time.perf_counter()
                _, _, hits = score_segment(c, rows, norm_bytes, gids, cache, 10, "auto")
                r["kernel_s"] += time.perf_counter() - t0
                r["hits"] += int(hits)
        return out
