"""lucene_spark benchmark: index build and top-10 search, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload search --seed 1 --seconds 6 --trace 0

One run starts a ``local[4]`` Spark session in this process, builds the
workload's seeded corpus into 16-segment indexes with positions, queries one
of them from a single closed-loop client for ``--seconds`` (whole passes
over the workload's query list, at least one) and runs ``search_many`` over
the workload's query batch. ``search`` runs selective term/AND/OR queries
on a corpus with a long tail of identifiers; ``positional`` runs phrase,
span and interval queries on the highest-df terms of the base corpus.
Every result is checked against ``lucene_spark.oracle.OracleIndex`` (see
``expected.py``).

``--trace 1`` adds spans, Spark stage counters per job group, the write
path (``delete_by_term``, ``force_merge``, ``check_index``) and per-layer
probes, and prints per-layer metrics instead of end-to-end ones. See
``perfbench/README.md``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit). Run files live under
``.perfbench/`` in the working directory and are removed at exit, except
the oracle cache and the trace files.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NUM_DOCS = 10_000
SEGMENTS = 16
CORES = 4
# builds and search_many calls per run (medians of ROUNDS samples)
ROUNDS = 3
NUM_DELETES = 2
# one force_merge pass of the 4 smallest segments, 16 -> 13: the cap on
# docs per merge (4 segments of NUM_DOCS / SEGMENTS) stops the pass at 4
MERGE_TO = 13
MERGE_CAP_DOCS = 4 * NUM_DOCS // SEGMENTS

# a workload is named after the query family it runs; the value says
# whether its corpus carries the tail of rare identifiers
WORKLOADS = {"search": True, "positional": False}

END_TO_END_UNITS = {
    "setup_s": "s", "build_docs_per_s": "docs/s",
    "index_bytes_per_content_byte": "ratio",
    "query_p50_ms": "ms", "batch_qps": "1/s",
}
# printed in the table, not in the JSON: with 8-16 samples a run has fewer
# than two samples beyond its p90, too few to gate on
TAIL_UNITS = {"query_p90_ms": "ms"}

LAYER_UNITS = {
    "session.start_s": "s",
    "analysis.docs_per_s_1core": "docs/s",
    "build.kernel_docs_per_s_1core": "docs/s",
    "build.term_stats_s": "s", "build.self_s": "s", "build.executor_run_s": "s",
    "build.cpu_busy_frac": "ratio", "build.spark_tasks": "count",
    "build.shuffle_write_bytes": "bytes", "build.scaling_1to4": "ratio",
    "codec.decode_mb_per_s": "MB/s", "codec.encode_mb_per_s": "MB/s",
    "delete.wall_s": "s", "delete.spark_jobs": "count",
    "delete.executor_run_s": "s",
    "merge.docs_per_s": "docs/s", "merge.spark_jobs": "count",
    "merge.executor_run_s": "s", "merge.shuffle_bytes": "bytes",
    "merge.bytes_written_per_live_byte": "ratio",
    "plans.parse_ms": "ms",
    "search.open_ms": "ms", "search.compile_ms": "ms", "search.exec_ms": "ms",
    "search.spark_jobs_per_query": "count", "search.tasks_per_query": "count",
    "search.executor_run_ms_per_query": "ms",
    "search.scan_bytes_per_query": "bytes",
    "search.shuffle_bytes_per_query": "bytes",
    "search.segments_hit_ratio": "ratio", "search.kernel_ms": "ms",
    "search.kernel_share": "ratio", "search.postings_bytes_per_query": "bytes",
    "search.hits_per_query": "count",
    "search_many.ms_per_query": "ms", "search_many.shuffle_bytes": "bytes",
    "search_many.kernel_share": "ratio",
    "trace.overhead_frac": "ratio", "mem.peak_rss_mb": "MB",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(values, q) -> float:
    import numpy as np
    return float(np.percentile(np.asarray(values, dtype=float), q))


def f32_bits(x: float) -> int:
    import numpy as np
    return int(np.float32(x).view(np.uint32))


def same_hits(got, want) -> bool:
    """Top-10 equality on (doc_id, float32 score bits), rank by rank."""
    return ([(int(d), f32_bits(s)) for d, s in got]
            == [(int(d), f32_bits(s)) for d, s in want])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total


def mount_of(path: str) -> dict:
    """Mount point and filesystem type holding ``path``."""
    best = ("", "?")
    path = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best[0]):
                best = (mnt, fstype)
    return {"mount": best[0], "fstype": best[1]}


class Bench:
    """One run: owns the work directory, the Spark session and the tallies."""

    def __init__(self, args, work: str, cache_dir: str):
        self.args = args
        self.work = work
        self.cache_dir = cache_dir
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, int] = {}
        self.layer: dict[str, float] = {}
        self.compile_times: list[float] = []
        self.env: dict = {}
        self.tails: dict[str, float] = {}
        self.spark = None
        self.t0 = time.perf_counter()

    # -- bookkeeping -----------------------------------------------------
    def phase(self, name: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.1f}s {name}",
              file=sys.stderr, flush=True)

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)

    # -- inputs ----------------------------------------------------------
    def make_inputs(self) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        import expected
        import inputs
        seed, workload = self.args.seed, self.args.workload
        self.corpus = inputs.make_corpus(NUM_DOCS, seed, tail=WORKLOADS[workload])
        self.content_bytes = int(sum(len(c.encode("utf-8"))
                                     for c in self.corpus["content"]))
        self.corpus_dir = os.path.join(self.work, "corpus")
        os.makedirs(self.corpus_dir)
        table = pa.Table.from_pandas(self.corpus, preserve_index=False)
        step = (NUM_DOCS + SEGMENTS - 1) // SEGMENTS
        for i in range(0, NUM_DOCS, step):
            pq.write_table(table.slice(i, step),
                           os.path.join(self.corpus_dir, f"part-{i // step:03d}.parquet"))

        def make_work(dfs):
            if workload == "search":
                queries = inputs.search_queries(dfs, seed)
            else:
                queries = {inputs.spec_id(s): s for s in inputs.positional_specs(dfs)}
            return {"queries": queries,
                    "delete_terms": inputs.delete_terms(dfs, NUM_DOCS, seed,
                                                        NUM_DELETES)}

        t0 = time.perf_counter()
        key = (f"oracle-{workload}-n{NUM_DOCS}-s{seed}-d{NUM_DELETES}"
               f"-{expected.fingerprint(self.corpus)}.json")
        self.truth = expected.load_or_compute(os.path.join(self.cache_dir, key),
                                              self.corpus, make_work)
        self.oracle_s = time.perf_counter() - t0
        # classic-syntax strings go to the engine as strings (it parses
        # them); positional specs as the query objects they describe
        self.batch_set = {qid: q if isinstance(q, str) else inputs.positional_query(q)
                          for qid, q in self.truth["work"]["queries"].items()}
        loop_ids = (inputs.LOOP_QUERIES if workload == "search"
                    else list(self.batch_set))
        self.loop_set = [(qid, self.batch_set[qid]) for qid in loop_ids]

    # -- spark -----------------------------------------------------------
    def start_session(self, cores: int):
        """The engine's session factory at ``local[cores]``; the web UI (and
        with it the REST API the traced run reads) only when tracing."""
        from lucene_spark.session import get_session
        spark = get_session(
            master=f"local[{cores}]", app_name="perfbench",
            shuffle_partitions=max(cores, 8),
            **{"spark.sql.adaptive.coalescePartitions.enabled": "false",
               "spark.ui.enabled": "true" if self.args.trace else "false",
               "spark.ui.showConsoleProgress": "false",
               "spark.ui.retainedJobs": "10000",
               "spark.ui.retainedStages": "20000",
               "spark.driver.memory": "2g",
               "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={os.environ['TMPDIR']}"})
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit: closing the gateway's stdin makes the JVM shut down."""
        from pyspark import SparkContext
        if self.spark is None:
            return
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -- write path ------------------------------------------------------
    def build(self, name: str, tracer, group: str | None):
        from lucene_spark.operators.build import build_index
        path = os.path.join(self.work, name)
        df = self.spark.read.parquet(self.corpus_dir)
        with tracer.span("build", op=name, group=group):
            t0 = time.perf_counter()
            snap = build_index(self.spark, df, path, num_segments=SEGMENTS,
                               store_positions=True)
            wall = time.perf_counter() - t0
        self.op(int(snap.field_stats["doc_count"]) == NUM_DOCS
                and len(snap.seg_ids) == SEGMENTS, f"build {name}: doc/segment count")
        return path, wall

    def check_index(self, path: str, what: str) -> None:
        from lucene_spark.operators.checkindex import CheckIndexError, check_index
        try:
            check_index(path, spark=self.spark)
            ok = True
        except CheckIndexError as e:
            print(f"perfbench: check_index {what}: {e}", file=sys.stderr)
            ok = False
        self.op(ok, f"check_index after {what}")

    def check_live_docs(self, path: str, what: str) -> None:
        """Live documents (segment docs minus tombstones) must equal the
        corpus size minus the oracle's count of documents holding a
        deleted term."""
        from lucene_spark.operators.delete import load_deletes
        from lucene_spark.sources.catalog import SnapshotCatalog
        catalog = SnapshotCatalog(path)
        snap = catalog.load()
        dead = sum(len(v) for v in load_deletes(catalog, snap).values())
        live = sum(int(s["num_docs"]) for s in snap.segments) - dead
        want = NUM_DOCS - int(self.truth["deleted_docs"])
        self.op(live == want, f"{what}: {live} live docs, expected {want}")

    # -- queries ---------------------------------------------------------
    def run_query(self, searcher, qid, query, tracer, traced: bool, log: list):
        group = f"q{len(log)}" if traced else None
        if traced:
            searcher._compile = self._timed_compile(searcher, tracer)
        try:
            with (tracer.span("search", op=qid, group=group) if traced
                  else contextlib.nullcontext()):
                t0 = time.perf_counter()
                rows = searcher.search(query, k=10).collect()
                wall = time.perf_counter() - t0
        finally:
            if traced:
                del searcher._compile
        hits = [(r["doc_id"], r["score"]) for r in rows]
        self.op(same_hits(hits, self.truth["expected"][qid]), f"query {qid}")
        log.append({"qid": qid, "wall": wall, "group": group, "hits": hits})

    def _timed_compile(self, searcher, tracer):
        """``Searcher._compile`` (dictionary probe job + ``compile_query``)
        timed from outside, for one traced query."""
        orig = type(searcher)._compile.__get__(searcher)

        def timed(query):
            with tracer.span("search.compile"):
                t0 = time.perf_counter()
                try:
                    return orig(query)
                finally:
                    self.compile_times.append(time.perf_counter() - t0)
        return timed

    def query_loop(self, searcher, queries, seconds, tracer, traced_too: bool):
        """Whole passes over ``queries`` until ``seconds`` have elapsed.
        With ``traced_too`` each query also runs traced (alternating which
        goes first) so tracing overhead is measured on the same queries."""
        log: list = []
        traced_log: list = []
        t_end = time.perf_counter() + seconds
        passes = 0
        while passes == 0 or time.perf_counter() < t_end:
            for i, (qid, q) in enumerate(queries):
                order = (False, True) if (i + passes) % 2 == 0 else (True, False)
                for traced in (order if traced_too else (False,)):
                    self.run_query(searcher, qid, q, tracer, traced,
                                   traced_log if traced else log)
            passes += 1
        return log, traced_log

    def batch(self, searcher, per_query: dict, tracer, group: str | None) -> float:
        """One ``search_many`` call over the workload's batch; its rows must
        equal the oracle's and those of the per-query searches."""
        queries = self.batch_set
        with tracer.span("search_many", group=group):
            t0 = time.perf_counter()
            rows = searcher.search_many(queries, k=10).collect()
            wall = time.perf_counter() - t0
        got: dict[str, list] = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append((r["doc_id"], r["score"]))
        ok = all(same_hits(got[qid], self.truth["expected"][qid])
                 and (qid not in per_query or same_hits(got[qid], per_query[qid]))
                 for qid in queries)
        self.op(ok, "search_many rows")
        return wall

    # -- the run ---------------------------------------------------------
    def run(self) -> dict:
        from tracing import Tracer

        from lucene_spark.operators import build as build_mod
        from lucene_spark.operators.search import Searcher
        traced = bool(self.args.trace)
        self.make_inputs()
        self.phase("inputs and oracle")

        # set-up: session, the cold first build (Python workers, imports,
        # JIT; it is the index the queries run on), open, one warm-up query.
        # The first search_many call is not warmed up: the median of
        # ROUNDS calls absorbs it
        t_setup = time.perf_counter()
        self.spark = self.start_session(CORES)
        self.session_s = time.perf_counter() - t_setup
        tracer = Tracer(self.spark.sparkContext, traced)
        # term_stats is a Spark job inside build_index: time it by
        # wrapping the module function the build calls
        self.term_stats_times: list[float] = []
        orig_ts = build_mod.compute_term_stats
        if traced:
            def timed_term_stats(*a, **kw):
                with tracer.span("build.term_stats"):
                    t0 = time.perf_counter()
                    try:
                        return orig_ts(*a, **kw)
                    finally:
                        self.term_stats_times.append(time.perf_counter() - t0)
            build_mod.compute_term_stats = timed_term_stats
        try:
            self.query_index, _ = self.build("idx-query", tracer, None)
            searcher = Searcher(self.spark, self.query_index)
            self.run_query(searcher, *self.loop_set[0], tracer, False, [])
            setup_s = time.perf_counter() - t_setup
            self.phase("setup")
            self.env = self.environment()

            # the measured work: ROUNDS rounds of one build and one
            # search_many call, the query loop after the first round. A
            # transient slowdown of the host then lands on one build or
            # call rather than on their medians
            builds, batch_walls = [], []
            loop_log: list = []

            def measured_round():
                i = len(builds)
                group = f"build{i}" if traced else None
                path, wall = self.build(f"idx-build{i}", tracer, group)
                builds.append({"path": path, "wall": wall, "group": group})
                per_query = {e["qid"]: e["hits"] for e in loop_log}
                batch_walls.append(self.batch(searcher, per_query, tracer,
                                              f"batch{i}" if traced else None))
                self.phase(f"build {wall:.2f}s, search_many {batch_walls[-1]:.2f}s")

            measured_round()
            loop_log, loop_traced = self.query_loop(
                searcher, self.loop_set, self.args.seconds, tracer, traced)
            self.phase(f"query loop ms {[round(e['wall'] * 1e3) for e in loop_log]}")
            while len(builds) < ROUNDS:
                measured_round()
            build_s = statistics.median(b["wall"] for b in builds)
            index_bytes = dir_bytes(builds[-1]["path"])
        finally:
            build_mod.compute_term_stats = orig_ts

        query_ms = [e["wall"] * 1e3 for e in loop_log]
        metrics = {
            "setup_s": setup_s,
            "build_docs_per_s": NUM_DOCS / build_s,
            "index_bytes_per_content_byte": index_bytes / self.content_bytes,
            "query_p50_ms": percentile(query_ms, 50),
            "batch_qps": len(self.batch_set) / statistics.median(batch_walls),
        }
        self.tails = {"query_p90_ms": percentile(query_ms, 90)}
        self.samples.update({"setup": 1, "build": len(builds),
                             "batch": len(batch_walls), "query": len(query_ms)})
        if traced:
            self.traced_extras(tracer, searcher, builds, build_s,
                               loop_log, loop_traced, batch_walls)
        self.stop_session()
        return metrics

    def traced_extras(self, tracer, searcher, builds, build_s,
                      loop_log, loop_traced, batch_walls) -> None:
        """Traced run only: the write path, Spark counters per job group,
        per-layer probes and the 1-core build for the scaling ratio."""
        from tracing import stage_counters

        from lucene_spark.operators.delete import delete_by_term
        from lucene_spark.operators.merge import force_merge
        from lucene_spark.operators.search import Searcher
        from lucene_spark.sources.catalog import SnapshotCatalog
        med = statistics.median
        L = self.layer

        open_times = []
        for _ in range(3):
            t0 = time.perf_counter()
            Searcher(self.spark, self.query_index)
            open_times.append(time.perf_counter() - t0)

        # write path on the last measured build: deletes, then one merge
        # pass; check_index covers build output (untouched segments) and
        # merge output (the new one)
        target = builds[-1]["path"]
        delete_walls = []
        for i, term in enumerate(self.truth["work"]["delete_terms"]):
            with tracer.span("delete", op=term, group=f"delete{i}"):
                t0 = time.perf_counter()
                snap = delete_by_term(self.spark, target, term)
                delete_walls.append(time.perf_counter() - t0)
        self.check_live_docs(target, "delete")
        catalog = SnapshotCatalog(target)
        segs_before = set(os.listdir(catalog.segments_dir))
        sizes = {s["seg_id"]: int(s["num_docs"]) for s in snap.segments}
        with tracer.span("merge", group="merge"):
            t0 = time.perf_counter()
            snap = force_merge(self.spark, target, max_segments=MERGE_TO,
                               max_merged_docs=MERGE_CAP_DOCS)
            merge_s = time.perf_counter() - t0
        merged_docs = sum(n for sid, n in sizes.items() if sid not in snap.seg_ids)
        self.op(len(snap.seg_ids) == MERGE_TO,
                f"merge: {len(snap.seg_ids)} segments, expected {MERGE_TO}")
        self.check_index(target, "build and merge")
        self.check_live_docs(target, "merge")
        self.phase("write path")

        groups = ([b["group"] for b in builds] + [e["group"] for e in loop_traced]
                  + [f"batch{i}" for i in range(len(batch_walls))] + ["merge"]
                  + [f"delete{i}" for i in range(len(delete_walls))])
        counters = stage_counters(self.spark.sparkContext, groups)

        L["session.start_s"] = self.session_s
        bc = [counters[b["group"]] for b in builds]
        L["build.term_stats_s"] = med(self.term_stats_times[-len(builds):])
        L["build.self_s"] = med(tracer.self_times("build")[-len(builds):])
        L["build.executor_run_s"] = med(c["executorRunTime"] for c in bc) / 1e3
        L["build.cpu_busy_frac"] = med(c["executorRunTime"] / 1e3 / (b["wall"] * CORES)
                                       for c, b in zip(bc, builds))
        L["build.spark_tasks"] = med(c["numTasks"] for c in bc)
        L["build.shuffle_write_bytes"] = med(c["shuffleWriteBytes"] for c in bc)

        dc = [counters[f"delete{i}"] for i in range(len(delete_walls))]
        L["delete.wall_s"] = med(delete_walls)
        L["delete.spark_jobs"] = med(c["jobs"] for c in dc)
        L["delete.executor_run_s"] = med(c["executorRunTime"] for c in dc) / 1e3
        m = counters["merge"]
        L["merge.docs_per_s"] = merged_docs / merge_s
        L["merge.spark_jobs"] = m["jobs"]
        L["merge.executor_run_s"] = m["executorRunTime"] / 1e3
        L["merge.shuffle_bytes"] = m["shuffleReadBytes"] + m["shuffleWriteBytes"]
        # everything the merge's tasks wrote (files and shuffle) per byte
        # of the segment it produced
        produced = sum(dir_bytes(os.path.join(catalog.segments_dir, s))
                       for s in set(os.listdir(catalog.segments_dir)) - segs_before)
        L["merge.bytes_written_per_live_byte"] = (
            (m["outputBytes"] + m["shuffleWriteBytes"]) / produced)

        qc = [counters[e["group"]] for e in loop_traced]
        n = len(qc)
        L["search.open_ms"] = med(open_times) * 1e3
        L["search.compile_ms"] = med(self.compile_times) * 1e3
        L["search.exec_ms"] = med(e["wall"] - c for e, c in
                                  zip(loop_traced, self.compile_times)) * 1e3
        L["search.spark_jobs_per_query"] = sum(c["jobs"] for c in qc) / n
        L["search.tasks_per_query"] = sum(c["numTasks"] for c in qc) / n
        L["search.executor_run_ms_per_query"] = sum(c["executorRunTime"] for c in qc) / n
        L["search.scan_bytes_per_query"] = sum(c["inputBytes"] for c in qc) / n
        L["search.shuffle_bytes_per_query"] = sum(c["shuffleWriteBytes"] for c in qc) / n
        L["trace.overhead_frac"] = (med(e["wall"] for e in loop_traced)
                                    / med(e["wall"] for e in loop_log) - 1)
        L["search_many.ms_per_query"] = med(batch_walls) / len(self.batch_set) * 1e3
        L["search_many.shuffle_bytes"] = med(
            counters[f"batch{i}"]["shuffleReadBytes"]
            + counters[f"batch{i}"]["shuffleWriteBytes"] for i in range(len(batch_walls)))
        self.probes(searcher, loop_log, batch_walls)
        self.phase("probes")
        L["build.scaling_1to4"] = self.scaling(build_s)
        self.phase("scaling")
        tracer.write(os.path.join(os.path.dirname(self.work),
                                  f"trace-{self.args.workload}-s{self.args.seed}.json"))

    def probes(self, searcher, loop_log, batch_walls) -> None:
        import layers
        L = self.layer
        sample = self.corpus.head(2000)
        L.update(layers.analysis_and_invert(sample))
        L.update(layers.codec(searcher.catalog.segment_dir(searcher.snapshot.seg_ids[0])))
        L["plans.parse_ms"] = layers.parse_ms([q for _, q in self.loop_set])
        probe = layers.KernelProbe(searcher)
        # every batch query; the loop's queries are a subset of the batch
        batch_runs = probe.run(self.batch_set)
        runs = [batch_runs[qid] for qid, _ in self.loop_set]
        n = len(runs)
        L["search.kernel_ms"] = statistics.median(r["kernel_s"] for r in runs) * 1e3
        L["search.postings_bytes_per_query"] = sum(r["postings_bytes"] for r in runs) / n
        L["search.hits_per_query"] = sum(r["hits"] for r in runs) / n
        L["search.segments_hit_ratio"] = (sum(r["segments_hit"] for r in runs)
                                          / (n * len(probe.segments)))
        # the serial kernel spread over the cores, as a share of the
        # untraced wall time of the same queries: one search at a time ...
        wall: dict[str, list] = {}
        for e in loop_log:
            wall.setdefault(e["qid"], []).append(e["wall"])
        total_wall = sum(statistics.median(wall[qid]) for qid, _ in self.loop_set)
        L["search.kernel_share"] = (sum(r["kernel_s"] for r in runs) / CORES
                                    / total_wall)
        # ... and the whole batch in one search_many call
        L["search_many.kernel_share"] = (
            sum(r["kernel_s"] for r in batch_runs.values()) / CORES
            / statistics.median(batch_walls))

    def scaling(self, build_s_4: float) -> float:
        """North-star N -> 4N ratio: one build at local[1] (after a small
        warm-up build) against the steady-state local[CORES] build time.
        Diagnostic only."""
        from tracing import Tracer

        from lucene_spark.operators.build import build_index
        self.spark.stop()
        self.spark = self.start_session(1)
        warm = self.spark.createDataFrame(self.corpus.head(1000))
        build_index(self.spark, warm, os.path.join(self.work, "idx-scale-warm"),
                    num_segments=SEGMENTS)
        _, wall = self.build("idx-scale", Tracer(None, False), None)
        return (wall / build_s_4) / CORES

    def environment(self) -> dict:
        """Where and with what this run measured."""
        import numpy
        import pandas
        import pyarrow
        import pyspark
        sc = self.spark.sparkContext
        local_dirs = list(sc._jvm.org.apache.spark.util.Utils
                          .getConfiguredLocalDirs(sc._jsc.sc().conf()))
        return {
            "master": sc.master, "nproc": os.cpu_count(),
            "python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": sc._jvm.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "numpy": numpy.__version__,
            "index_storage": {"path": os.path.relpath(self.query_index, ROOT),
                              **mount_of(self.query_index)},
            "spark_local_dirs": [os.path.relpath(d, ROOT) for d in local_dirs],
            "num_docs": NUM_DOCS, "segments": SEGMENTS,
            "oracle_s": round(self.oracle_s, 3),
        }


def report(metrics: dict, samples: dict, attempted: int, failures: list,
           env: dict) -> None:
    """Human-readable lines (every metric, unit, sample count) before the
    JSON line."""
    sample_of = {"setup_s": "setup", "build_docs_per_s": "build",
                 "index_bytes_per_content_byte": "build", "batch_qps": "batch",
                 "query_p50_ms": "query", "query_p90_ms": "query"}
    print(f"env {json.dumps(env, sort_keys=True)}")
    units = {**END_TO_END_UNITS, **TAIL_UNITS}
    for name, value in metrics.items():
        n = samples.get(sample_of.get(name, ""), 1)
        print(f"{name:40s} {value:14.4f} {units[name]:8s} n={n}")
    print(f"{'failed_ops_frac':40s} {len(failures) / attempted:14.4f} "
          f"{'ratio':8s} n={attempted}")
    for f in failures:
        print(f"failed: {f}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print(f"perfbench: no lucene_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "spark-local"))
    # every temporary file of this process, the JVM and the Python
    # workers, and Spark's shuffle files, stay inside the work directory
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    import tempfile
    tempfile.tempdir = None
    bench = Bench(args, work, os.path.join(base, "cache"))
    try:
        if args.trace:
            from tracing import RssSampler
            with RssSampler() as rss:
                metrics = bench.run()
            bench.layer["mem.peak_rss_mb"] = rss.peak_kb / 1024
        else:
            metrics = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    report({**metrics, **bench.tails}, bench.samples, bench.attempted,
           bench.failures, bench.env)
    if args.trace:
        out = {k: {"value": float(v), "unit": LAYER_UNITS[k]}
               for k, v in sorted(bench.layer.items())}
    else:
        out = {k: {"value": float(v), "unit": END_TO_END_UNITS[k]}
               for k, v in metrics.items()}
    print(json.dumps({"correct": not bench.failures, "attempted": bench.attempted,
                      "failed": len(bench.failures), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
