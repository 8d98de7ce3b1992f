"""CombinedFieldQuery — BM25F-style multi-field term scoring.

Reference: ``lucene/sandbox/src/java/org/apache/lucene/sandbox/search/
CombinedFieldQuery.java`` + ``MultiNormsLeafSimScorer.java`` (the
"simple BM25F" of Robertson/Zaragoza/Taylor, CIKM 2004): the fields
are scored as if their contents were one pseudo-field —

  * pseudo term stats (``CombinedFieldQuery.java:328-345``):
    ``docFreq = max_f df_f(term)``,
    ``totalTermFreq = Σ_f w_f · ttf_f(term)`` (long-truncating
    compound assignment, one truncation per field like Java's
    ``long += (double) w * ttf``);
  * pseudo collection stats (``:353-370``):
    ``docCount = max_f docCount_f``,
    ``sumTotalTermFreq = Σ_f w_f · sumTTF_f`` (same truncation);
  * per-doc freq (``WeightedDisiWrapper.freq`` / ``CombinedFieldScorer
    .freq``, ``:452-489``): ``Σ_f w_f · tf_f`` accumulated in float32;
  * per-doc norm (``MultiNormsLeafSimScorer.MultiFieldNormValues
    .advanceExact``): ``Σ_f w_f · LENGTH_TABLE[normByte_f]`` in
    float32, then re-encoded ``SmallFloat.intToByte4(Math.round(v))``
    — the combined length goes through the byte4 quantization cycle
    again before the BM25 norm cache.

Spark shape: each field lives in its OWN single-field index built over
the same ``doc_id`` space with the same ``num_segments`` — the build
partitioner is ``doc_id % num_segments``, so segment i of every field
holds the same documents in the same local order and the combination
is segment-local (one cogroup, no doc-level shuffle). The pseudo-stats
are O(fields) driver lookups against the pre-aggregated term_stats /
field_stats tables.

Seam vs the reference (documented): our ``field_stats.doc_count``
counts every doc in the index, while Lucene's per-field docCount
counts docs that HAVE the field — identical whenever every document
carries every combined field (enforced by the caller; a missing field
contributes ``w·0`` to freq and norm either way, only the collection
docCount could diverge).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import bm25
from ..functions.smallfloat import LENGTH_TABLE, int_to_byte4
from .search import TermSegPostings, _global_top_k, _live_mask, _topk_merge


def _pseudo_stats(fields, term: str):
    """(docFreq, ttf, docCount, sumTTF) of the pseudo-field/term —
    CombinedFieldQuery.java:328-345 + mergeCollectionStatistics."""
    doc_freq = 0
    ttf = 0
    doc_count = 0
    sum_ttf = 0
    for searcher, weight in fields:
        row = (searcher.term_stats.where(
            searcher.term_stats.term == term)
            .select("df", "ttf").collect())
        df_f = int(row[0]["df"]) if row else 0
        ttf_f = int(row[0]["ttf"]) if row else 0
        if df_f > 0:
            doc_freq = max(doc_freq, df_f)
            # Java: long += (double) weight * ttf — truncation per field
            ttf = int(ttf + float(weight) * ttf_f)
        doc_count = max(doc_count, searcher.doc_count)
        sum_ttf = int(sum_ttf + float(weight) * searcher.sum_ttf)
    return doc_freq, max(1, ttf), doc_count, sum_ttf


def combined_field_topk(spark, fields, term: str, k: int = 10,
                        boost: float = 1.0,
                        k1: float = bm25.K1_DEFAULT,
                        b: float = bm25.B_DEFAULT):
    """Global top-k of the combined-field BM25 score of ``term``.

    ``fields`` — list of ``(Searcher, weight)``; every searcher must
    read an index built over the same doc_id space with the same
    ``num_segments`` (checked per segment via global-id equality).
    Returns (doc_id, score float32, rank) like ``Searcher.search``.
    """
    from pyspark.sql import functions as F

    if not fields:
        raise ValueError("fields must be non-empty")
    doc_freq, _ttf, doc_count, sum_ttf = _pseudo_stats(fields, term)
    out_schema = "seg_id int, doc_id long, score float"
    if doc_freq == 0:
        return (spark.createDataFrame([], out_schema + ", rank int")
                .select("doc_id", "score", "rank"))

    idf = bm25.idf(doc_freq, doc_count)
    weight = np.float32(np.float32(boost) * idf)
    avgdl = bm25.avg_field_length(sum_ttf, doc_count)
    cache = bm25.norm_inverse_cache(avgdl, k1, b)
    weights = [np.float32(w) for _, w in fields]
    deletes = [s.deletes for s, _ in fields]

    pf = None
    nf = None
    for i, (searcher, _w) in enumerate(fields):
        p = (searcher.postings.where(F.col("term") == term)
             .withColumn("fidx", F.lit(i)))
        n = (searcher.norms
             .select("seg_id", "norm_bytes", "global_doc_ids")
             .withColumn("fidx", F.lit(i)))
        pf = p if pf is None else pf.unionByName(p)
        nf = n if nf is None else nf.unionByName(n)

    def seg_combined(key, postings_pdf, norms_pdf):
        if len(norms_pdf) == 0:
            return pd.DataFrame(columns=["seg_id", "doc_id", "score"])
        seg_id = int(key[0])
        by_fidx_n = {int(r["fidx"]): r for _, r in norms_pdf.iterrows()}
        by_fidx_p = {int(r["fidx"]): r for _, r in postings_pdf.iterrows()}
        gids = None
        n = 0
        comb_len = None
        for i, w in enumerate(weights):
            nrow = by_fidx_n.get(i)
            if nrow is None:
                continue
            g = np.frombuffer(nrow["global_doc_ids"], dtype="<i8")
            nb = np.frombuffer(nrow["norm_bytes"], dtype=np.uint8)
            if gids is None:
                gids = g
                n = len(nb)
                comb_len = np.zeros(n, dtype=np.float32)
            elif len(g) != n or not np.array_equal(gids, g):
                raise ValueError(
                    "combined fields need identical doc layout per "
                    f"segment (seg {seg_id}: field {i} differs)")
            # float32 accumulation in field order, exactly
            # MultiFieldNormValues.advanceExact
            comb_len += w * LENGTH_TABLE[nb]
        if gids is None or n == 0:
            return pd.DataFrame(columns=["seg_id", "doc_id", "score"])
        # Math.round(float) = floor(x + 0.5f) — then re-quantize byte4
        comb_byte = int_to_byte4(
            np.floor(comb_len + np.float32(0.5)).astype(np.int64))
        freq = np.zeros(n, dtype=np.float32)
        for i, w in enumerate(weights):
            prow = by_fidx_p.get(i)
            if prow is None:
                continue
            ids, tfs = TermSegPostings(prow).decode_all()
            freq[ids] += w * tfs.astype(np.float32)
        live = np.ones(n, dtype=bool)
        for d in deletes:
            lm = _live_mask(d, seg_id, n)
            if lm is not None:
                live &= lm
        mask = (freq > 0) & live
        lids = np.nonzero(mask)[0]
        scores = bm25.score_block(freq[lids],
                                  comb_byte[lids].astype(np.int64),
                                  weight, cache)
        g, s = _topk_merge(gids[lids], scores, k)
        return pd.DataFrame({"seg_id": np.int32(seg_id), "doc_id": g,
                             "score": s.astype(np.float32)})

    res = (pf.groupBy("seg_id")
           .cogroup(nf.groupBy("seg_id"))
           .applyInPandas(seg_combined, schema=out_schema))
    return _global_top_k(res, k)
