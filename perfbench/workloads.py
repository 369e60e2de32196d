"""The benchmark's workloads.

Each workload: set-up (timed as ``setup_s``), a warm-up outside every
measured window, a closed loop of operations from one client thread for
``--seconds``, then a correctness gate on every operation whose cost stays
out of every metric. A traced run leaves every other operation untraced, so
the difference of the two medians is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from lucene_solr_spark.functions.analysis import standard_analyzer
from lucene_solr_spark.functions.codec import pack_postings_blocks, unpack_blocks
from lucene_solr_spark.functions.smallfloat import int_to_byte4
from lucene_solr_spark.operators import searcher as searcher_module
from lucene_solr_spark.operators.indexer import IndexConfig, InvertedIndex, build_index_sorted_source
from lucene_solr_spark.operators.merge import TieredMergePolicy, expunge_deletes, maybe_merge, run_manifest
from lucene_solr_spark.operators.searcher import IndexSearcher
from lucene_solr_spark.plans.query import TermQuery
from lucene_solr_spark.streaming.incremental import index_batch, open_streamed_index
from lucene_solr_spark.testing.oracle import OracleEngine

import workload_inputs as wi
from spans import Tracer, host_cpu

# corpus: 10k turns in one parquet file per core
N_TURNS = 10_000
N_FILES = 4
K = 10
BATCH_SIZE = 64
BATCH_DUP_SHARE = 0.25
# warm-up runs of the measured batch: after the index is built, the first
# runs 2.5 times slower than the steady state and the next two 15-20%; a
# third warm-up would cost 3 to 5 s of every run, and the window's median
# keeps the one slow batch it may still hold from setting the result
WARMUP_BATCHES = 2
# the engine's default pruning gate is sized for a ~333k-turn corpus; it is
# scaled by corpus size so the same share of queries takes the θ path here
GATE_REFERENCE_TURNS = 333_000
# per-query search() calls checked against batch_search rows in each run
BATCH_SPOT_CHECKS = 1
# the batch a traced query_single run sends, so it measures the batch layers
EXTRA_BATCH_SIZE = 8
# single-query warm-up: one query per plan the cycle uses (single-term scan,
# θ-pruned disjunction, boolean single scan)
WARMUP_SHAPES = ("rare", "or2", "and")
# queries the single-query stream can run before its window must close
MAX_CYCLES = 20
# ingest_nrt, at the end of every traced query run: one-run
# micro-batches of NRT_CONVS conversations each, merged by a tiered policy
# with 1.5 runs per tier and two per merge, under which 3 runs below its
# 256 KB floor make exactly one maybe_merge round of two runs (2 runs merge
# nothing). The default policy needs about 12 such runs, and that sequence
# made a traced run last 176 s, where every run must end within 180 s.
NRT_BATCHES = 3
NRT_CONVS = 2
NRT_POLICY = TieredMergePolicy(max_merge_at_once=2, segs_per_tier=1.5)
# delete_by_query calls, each on a term matching this many ingested turns,
# so pending deletes stay under the θ pre-pass's 256 bound
NRT_DELETES = 2
NRT_DELETE_DF = (2, 40)
# queries checked before maybe_merge, after it, and after expunge_deletes
NRT_CHECK_SHAPES = ("or2",)
# the sequence takes 30 to 40 s, more on a slow host; a traced run that
# reaches it later than this (seconds since session start) skips it, so the
# run still ends within its 180 s
NRT_START_BY_S = 90


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _hd_median(xs) -> float:
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) law. The single-query
    window holds one query of each of seven shapes, and its sample median
    is whichever single query ranks 4th, one sample that flips between the
    light shapes and the boolean ones; this weights the middle ranks
    0.24 / 0.31 / 0.24 (n = 7) instead."""
    x = np.sort(np.asarray(list(xs), dtype=np.float64))
    n = len(x)
    a = (n + 1) / 2
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = (grid * (1.0 - grid)) ** (a - 1)
    cdf = np.concatenate([[0.0], np.cumsum(pdf[1:] + pdf[:-1])])
    edges = np.interp(np.arange(n + 1) / n, grid, cdf / cdf[-1])
    return float(np.dot(np.diff(edges), x))


def _throughput(walls, per_op: float = 1.0, whole: int = 1) -> float:
    """Median, over consecutive groups of ``whole`` operations, of the
    group's work (``per_op`` units each) per second."""
    groups = [walls[i : i + whole] for i in range(0, len(walls) - whole + 1, whole)]
    return _median(whole * per_op / sum(g) for g in groups)


class Run:
    """One benchmark run: the session, its tracer and the gate tallies."""

    def __init__(self, spark, work: str, seed: int, seconds: float, trace: bool, session_s: float, procs):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.session_s = session_s
        self.procs = procs  # spans.ProcessSampler of this run's process tree
        self.window_stats: dict = {}
        self.tracer = Tracer(spark.sparkContext if trace else None)
        self.analyzer = standard_analyzer()
        self.attempted = 0
        self.failures: list = []
        self.layers: dict = {"session.start_s": session_s}
        self.ops: list = []  # (traced, wall seconds) of every measured call, in order
        self.t0 = time.perf_counter() - session_s

    def log(self, msg: str) -> None:
        """Progress on stderr, seconds since the session started."""
        print(f"[perfbench +{time.perf_counter() - self.t0:6.1f}s] {msg}", file=sys.stderr, flush=True)

    def gate(self, op: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{op}: {detail}"[:500])

    def attempt(self, op: str, fn):
        """Run one operation at the failure boundary: an exception is a
        failed operation, reported and counted, never a crash of the run."""
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.gate(op, False, "raised")
            return None

    def warmup(self, op: str, fn) -> None:
        """Run ``fn`` outside every measured window and every span: it pays
        first-use costs (JIT, Python workers, plan code generation)."""
        self.tracer.active = False
        try:
            self.attempt(op, fn)
        finally:
            self.tracer.active = True

    def window(self, op_fn, whole=1):
        """Closed loop: call ``op_fn(i)`` until ``seconds`` have passed, in
        groups of ``whole`` calls. Returns the per-call wall times.

        A traced run spends half of ``seconds`` on this pass, then makes a
        second pass over as many calls and traces each position in exactly
        one pass (odd positions in the first, even in the second), so a
        position's traced-minus-untraced difference measures the tracing
        overhead while warm-up drift between the passes cancels across
        positions.
        """
        walls = []
        budget = self.seconds / 2 if self.trace else self.seconds
        cpu0, host0 = self.procs.cpu_s(), host_cpu()
        t_start = time.perf_counter()
        while not walls or len(walls) % whole or time.perf_counter() - t_start < budget:
            walls.append(self._call(op_fn, len(walls), self.trace and len(walls) % 2 == 1))
        host1 = host_cpu()
        cpu1 = self.procs.cpu_s()  # samples the process tree once more
        self.window_stats = {
            # set-up, warm-up and window; the gate's reference engine after
            # the window is the benchmark's own memory, not the engine's
            "peak_rss_mb": self.procs.peak_bytes / 2**20,
            "operations": len(walls),
            "op_walls_s": walls,
            "wall_s": time.perf_counter() - t_start,
            "cpu_s_per_op": (cpu1 - cpu0) / len(walls),
            "host_busy_share": (host1[0] - host0[0]) / max(host1[2] - host0[2], 1),
            "host_steal_share": (host1[1] - host0[1]) / max(host1[2] - host0[2], 1),
        }
        if self.trace:
            n = len(walls)
            for i in range(n, 2 * n):
                self._call(op_fn, i, (i - n) % 2 == 0)
        self.tracer.active = True
        self.log(f"measured {len(walls)} operations in {sum(walls):.1f}s")
        return walls

    def _call(self, op_fn, i: int, traced: bool) -> float:
        self.tracer.active = traced
        t0 = time.perf_counter()
        op_fn(i)
        wall = time.perf_counter() - t0
        self.ops.append((traced, wall))
        return wall

    def span_median(self, name: str, key: str = "wall_s", scale: float = 1.0) -> float:
        return _median(t.get(key, 0) * scale for t in self.tracer.totals(name))

    def stage(self) -> pd.DataFrame:
        with self.tracer.span("stage"):
            pdf = wi.stage_corpus(f"{self.work}/corpus", N_TURNS, N_FILES, self.seed)
        self.log(f"staged {len(pdf)} turns")
        return pdf

    def finish_layers(self) -> None:
        """Per-layer metrics read off the spans; call once jobs are counted
        and the event log is joined. A layer that did not run reads 0."""
        # call i and call i + n ran the same position, one traced, one not
        n = len(self.ops) // 2
        pairs = zip(self.ops[:n], self.ops[n:])
        self.layers["trace.overhead_s"] = _median(
            (a[1] - b[1]) if a[0] else (b[1] - a[1]) for a, b in pairs
        )
        for metric, span in (
            ("indexer.build_s", "indexer.build"),
            ("indexer.write_s", "indexer.write"),
            ("searcher.search_s", "searcher.search"),
            ("searcher.collect_s", "searcher.collect"),
            ("searcher.fetch_s", "searcher.fetch"),
            ("searcher.batch_call_s", "searcher.batch_search"),
            ("searcher.batch_collect_s", "searcher.batch_collect"),
            ("incremental.index_batch_s", "incremental.index_batch"),
            ("incremental.open_s", "incremental.open"),
            ("merge.maybe_merge_s", "merge.maybe_merge"),
            ("merge.expunge_s", "merge.expunge"),
            ("searcher.delete_by_query_s", "searcher.delete_by_query"),
        ):
            self.layers[metric] = self.span_median(span)
        self.layers["incremental.jobs_per_batch"] = self.span_median("incremental.index_batch", "jobs")
        for prefix, span, counters in (
            ("indexer.build_", "indexer.build", ("jobs", "tasks", "cpu_s", "python_s", "to_python_bytes", "shuffle_bytes")),
            ("searcher.", "query", ("jobs_per_query", "tasks_per_query", "python_s_per_query", "driver_pull_bytes_per_query")),
            ("searcher.batch_", "batch", ("jobs", "tasks", "shuffle_bytes", "python_s")),
        ):
            for name in counters:
                key, scale = _COUNTER_KEYS[name.replace("_per_query", "")]
                self.layers[prefix + name] = self.span_median(span, key, scale)


# span counter behind each per-layer counter metric, and its unit scale
_COUNTER_KEYS = {
    "jobs": ("jobs", 1),
    "tasks": ("tasks", 1),
    "cpu_s": ("cpu_ns", 1e-9),
    "python_s": ("python_ms", 1e-3),
    "to_python_bytes": ("to_python_bytes", 1),
    "shuffle_bytes": ("shuffle_bytes", 1),
    "driver_pull_bytes": ("result_bytes", 1),
}


def _analysis_layer(run: Run, texts: pd.Series) -> None:
    """In-process ``Analyzer.analyze_batch`` over the workload's own texts."""
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        flat, _, _ = run.analyzer.analyze_batch(texts)
        walls.append(time.perf_counter() - t0)
    run.layers["analysis.tokens_per_s"] = len(flat) / _median(walls)


def _oracle(run: Run, texts: pd.Series) -> OracleEngine:
    """The scalar reference engine over the staged corpus (doc id = row)."""
    return OracleEngine(enumerate(texts.to_numpy()), run.analyzer)


def _codec_layers(run: Run, texts: pd.Series, postings) -> None:
    """In-process codec throughput on the workload's own data: pack the
    postings of its first texts, unpack blocks sampled from its index."""
    flat, rows, dl = run.analyzer.analyze_batch(texts.iloc[: wi.ANALYSIS_CHUNK])
    codes, _ = pd.factorize(pd.Series(flat), sort=True)
    tf = pd.DataFrame({"t": codes, "d": np.asarray(rows)}).groupby(["t", "d"]).size().reset_index(name="tf")
    norms = int_to_byte4(np.asarray(dl, dtype=np.int64))[tf["d"].to_numpy()]
    args = (tf["t"].to_numpy(), tf["d"].to_numpy(), tf["tf"].to_numpy(), norms)
    pack = []
    for _ in range(3):
        t0 = time.perf_counter()
        pack_postings_blocks(*args)
        pack.append(time.perf_counter() - t0)
    run.layers["codec.pack_postings_per_s"] = len(tf) / _median(pack)

    blocks = postings.select("doc_id_base", "count", "doc_ids", "tfs", "norms").limit(2048).toPandas()
    cols = (
        blocks["doc_id_base"].to_numpy(),
        blocks["count"].to_numpy(),
        list(blocks["doc_ids"]),
        list(blocks["tfs"]),
        list(blocks["norms"]),
    )
    unpack = []
    for _ in range(3):
        t0 = time.perf_counter()
        unpack_blocks(*cols)
        unpack.append(time.perf_counter() - t0)
    run.layers["codec.unpack_postings_per_s"] = int(blocks["count"].sum()) / _median(unpack)

    row = postings.agg(
        F.sum(F.octet_length("doc_ids") + F.octet_length("tfs") + F.octet_length("norms")).alias("b"),
        F.sum("count").alias("n"),
    ).first()
    run.layers["codec.bytes_per_posting"] = float(row["b"]) / max(int(row["n"]), 1)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.endswith(".crc"))
    return total


# ------------------------------------------------------------------- build
def build(run: Run) -> dict:
    """Bulk build + commit of the staged sorted-table corpus, repeated."""
    t0 = time.perf_counter()
    pdf = run.stage()
    setup_s = run.session_s + time.perf_counter() - t0
    corpus = f"{run.work}/corpus"
    config = IndexConfig(n_partitions=None)
    done = []  # (doc_count, sum_ttf, commit path) per build

    def build_commit(tag: str) -> tuple:
        with run.tracer.span("build", request=tag):
            t_b = time.perf_counter()
            with run.tracer.span("indexer.build"):
                idx = build_index_sorted_source(run.spark, corpus, config)
            t_w = time.perf_counter()
            with run.tracer.span("indexer.write"):
                idx.write(f"{run.work}/{tag}")
            t_e = time.perf_counter()
        done.append((idx.doc_count, idx.sum_ttf, f"{run.work}/{tag}"))
        run.spark.catalog.clearCache()
        return t_w - t_b, t_e - t_w

    run.warmup("warm-up build", lambda: build_commit("warmup"))
    run.log("warm-up done")
    parts = []
    walls = run.window(lambda i: parts.append(run.attempt("build", lambda: build_commit(f"commit{i}"))))

    # gate: counts against the in-process analysis, and the committed index
    # read back must agree with what was built
    n_turns = len(pdf)
    n_tokens = len(run.analyzer.analyze_batch(pdf["text"])[0])
    for doc_count, sum_ttf, path in done:
        back = InvertedIndex.read(run.spark, path)
        trow = back.terms.agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf")).first()
        prow = back.postings.agg(F.sum("count").alias("n")).first()
        got = (doc_count, sum_ttf, back.doc_count, back.sum_ttf, int(trow["ttf"]), int(prow["n"]))
        want = (n_turns, n_tokens, n_turns, n_tokens, n_tokens, int(trow["df"]))
        run.gate("build+commit", got == want, f"{path}: got {got} want {want}")

    commit_bytes = _dir_bytes(done[-1][2]) if done else 0
    text_bytes = int(pdf["text"].str.encode("utf-8").str.len().sum())
    ok_parts = [p for p in parts[: len(walls)] if p]
    if run.trace:
        _analysis_layer(run, pdf["text"])
        idx = InvertedIndex.read(run.spark, done[-1][2])
        _codec_layers(run, pdf["text"], idx.postings)
        run.layers["indexer.write_bytes"] = commit_bytes
    return {
        "e2e": {
            "setup_s": setup_s,
            "op_p50_s": _median(walls),
            "throughput_per_s": n_turns * len(walls) / sum(walls),
        },
        "workload": {
            "build_turns_per_s": n_turns * len(walls) / sum(walls),
            "index_bytes_per_text_byte": commit_bytes / text_bytes,
            "build_s_p50": _median(b for b, _ in ok_parts),
            "commit_s_p50": _median(w for _, w in ok_parts),
            "builds": len(walls),
        },
        "inputs": {"turns": n_turns, "tokens": n_tokens, "text_bytes": text_bytes, "files": N_FILES},
    }


# ------------------------------------------------------- query workloads
def _searchable_index(run: Run, pdf: pd.DataFrame):
    """Build, persist and materialize the index and the stored-field corpus
    (part of set-up, so no measured operation pays lazy set-up)."""
    with run.tracer.span("indexer.build"):
        idx = build_index_sorted_source(run.spark, f"{run.work}/corpus", IndexConfig(n_partitions=None))
    with run.tracer.span("indexer.persist"):
        idx.persist()
        for df in (idx.postings, idx.docs, idx.terms):
            df.count()
        stored = run.spark.createDataFrame(
            pd.DataFrame({"doc_id": np.arange(len(pdf), dtype=np.int64), "text": pdf["text"].to_numpy()})
        ).persist()
        stored.count()
    gate = round(searcher_module._MIN_PRUNE_POSTINGS * len(pdf) / GATE_REFERENCE_TURNS)
    run.log("index and stored fields materialized")
    return idx, IndexSearcher(idx, corpus=stored, prune_min_postings=gate), gate


def _oracle_check(run: Run, op: str, oracle, q, hits) -> None:
    want = oracle.search(q, K)
    got = [(int(d), float(s)) for d, s in hits]
    run.gate(op, got == want, f"got {got[:3]}... want {want[:3]}...")


def _single_query(run: Run, searcher, bq) -> tuple:
    """One query: parse, search, collect, then fetch of the top-10 texts,
    each in its layer's span. Returns (hits, fetched rows)."""
    tr = run.tracer
    with tr.span("query", request=bq.qid):
        with tr.span("plans.parser"):
            q = bq.parse(run.analyzer)
        with tr.span("searcher.search"):
            top = searcher.search(q, K)
        with tr.span("searcher.collect"):
            hits = top.collect()
        with tr.span("searcher.fetch"):
            fetched = [(r["doc_id"], r["text"], r["score"]) for r in searcher.fetch(top, ["text"]).collect()]
    return hits, fetched


def _check_single(run: Run, oracle, texts, bq, hits, fetched) -> None:
    _oracle_check(run, f"query {bq.qid} {bq.text!r}", oracle, bq.parse(run.analyzer), hits)
    same = [(d, s) for d, _, s in fetched] == list(hits) and all(t == texts[d] for d, t, _ in fetched)
    run.gate(f"fetch {bq.qid}", same, "fetched rows differ from the ranked hits or the stored text")


def _batch_query(run: Run, searcher, qs: dict, tag: str) -> list:
    """One ``batch_search`` and the collect of its rows, each in its span."""
    tr = run.tracer
    with tr.span("batch", request=tag):
        with tr.span("searcher.batch_search"):
            df = searcher.batch_search(qs, K)
        with tr.span("searcher.batch_collect"):
            return df.collect()


def _check_batch(run: Run, oracle, qs: dict, tag: str, rows, expected: dict) -> None:
    """Every query's rows must equal the oracle's top-10 (``expected``
    caches the oracle's answers by query id)."""
    got = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r["score"])))
    bad = []
    for qid, q in qs.items():
        if qid not in expected:
            expected[qid] = oracle.search(q, K)
        if got.get(qid, []) != expected[qid]:
            bad.append(qid)
    run.gate(f"batch_search {tag}", not bad, f"{len(bad)} queries differ from the oracle, e.g. {bad[:3]}")


def _batch_prune_layer(run: Run, searcher, queries: dict) -> None:
    m = searcher.batch_prune_metrics(queries, K)
    run.layers["searcher.batch_clause_pair_skip_rate"] = float(m.get("clause_pair_skip_rate", 0.0))


def _shared_layers(run: Run, pdf: pd.DataFrame, idx) -> dict:
    """Per-layer metrics of every traced query run: analysis and codec on
    the workload's own data, the commit of its set-up index, then the
    ``ingest_nrt`` sequence. Returns the ingest figures."""
    _analysis_layer(run, pdf["text"])
    _codec_layers(run, pdf["text"], idx.postings)
    with run.tracer.span("indexer.write"):
        idx.write(f"{run.work}/commit")
    run.layers["indexer.write_bytes"] = _dir_bytes(f"{run.work}/commit")
    return _nrt_layers(run, pdf)


def query_single(run: Run) -> dict:
    """Closed loop, one client: parse -> search -> collect -> fetch top-10."""
    t0 = time.perf_counter()
    pdf = run.stage()
    idx, searcher, gate = _searchable_index(run, pdf)
    setup_s = run.session_s + time.perf_counter() - t0

    gen = wi.QueryGen(run.seed)
    warm = [gen.query(f"w{i}", shape) for i, shape in enumerate(WARMUP_SHAPES)]
    stream = gen.stream(MAX_CYCLES)
    results = {}  # qid -> (hits, fetched)

    def one(bq) -> None:
        results[bq.qid] = _single_query(run, searcher, bq)

    for bq in warm:
        run.warmup("warm-up query", lambda: one(bq))
    run.log("warm-up done")
    walls = run.window(lambda i: run.attempt("query", lambda: one(stream[i])), whole=len(wi.SHAPES))
    ran = warm + stream[: len(run.ops)]

    oracle = _oracle(run, pdf["text"])
    run.gate("index", (idx.doc_count, idx.sum_ttf) == (len(pdf), oracle.sum_ttf), "doc_count/sum_ttf")
    texts = pdf["text"].to_numpy()
    for bq in ran:
        if bq.qid in results:  # else it raised: already counted as failed
            _check_single(run, oracle, texts, bq, *results[bq.qid])

    if run.trace:
        _prune_layers(run, searcher, stream[len(walls) : len(run.ops)])
        # one small batch_search, so the batch layers are measured here too;
        # it is the session's first, so it pays the batch plan's first use
        extra = {bq.qid: bq.parse(run.analyzer) for bq in gen.batch(EXTRA_BATCH_SIZE, BATCH_DUP_SHARE, "x")}
        rows = run.attempt("batch", lambda: _batch_query(run, searcher, extra, "extra"))
        if rows is not None:
            _check_batch(run, oracle, extra, "extra", rows, {})
        _batch_prune_layer(run, searcher, extra)
        nrt = _shared_layers(run, pdf, idx)
    measured = stream[: len(walls)]
    by_shape = {}
    for bq, w in zip(measured, walls):
        by_shape.setdefault(bq.shape, []).append(w)
    return {
        "e2e": {
            "setup_s": setup_s,
            "op_p50_s": _hd_median(walls),
            "throughput_per_s": _throughput(walls, whole=len(wi.SHAPES)),
        },
        "workload": {
            "query_p50_s": _hd_median(walls),
            "query_sample_median_s": _median(walls),
            "query_tail_s": _tail(walls),
            "query_p50_s_by_shape": {k: _median(v) for k, v in by_shape.items()},
            **({"ingest_nrt": nrt} if run.trace else {}),
        },
        "inputs": dict(
            wi.query_properties(measured, run.analyzer, gen.hot_terms, oracle.postings),
            turns=len(pdf),
            prune_min_postings=gate,
        ),
    }


def _prune_layers(run: Run, searcher, measured: list) -> None:
    """Pruning share and skip rates over the measured term / pure-OR
    queries. ``prune_metrics`` re-runs the θ pre-pass, hence after the
    window and in traced runs only."""
    applied = blocks = surv_blocks = postings = surv_postings = 0
    for bq in measured:
        try:
            m = searcher.prune_metrics(bq.parse(run.analyzer), K)
        except ValueError:  # not a term / pure-OR query: no θ path
            continue
        if m.get("pruning_applied"):
            applied += 1
            blocks += m["blocks"]
            surv_blocks += m["surviving_blocks"]
            postings += m["postings"]
            surv_postings += m["surviving_postings"]
    run.layers["searcher.pruned_share"] = applied / max(len(measured), 1)
    run.layers["searcher.block_skip_rate"] = 1.0 - surv_blocks / blocks if blocks else 0.0
    run.layers["searcher.posting_skip_rate"] = 1.0 - surv_postings / postings if postings else 0.0


def _nrt_layers(run: Run, pdf: pd.DataFrame) -> dict:
    """The ``ingest_nrt`` sequence, traced: micro-batches through
    ``index_batch`` to an on-disk index, each reopened with
    ``open_streamed_index`` and queried; then ``delete_by_query``,
    ``maybe_merge`` and ``expunge_deletes``. Gates: every query equals the
    oracle over the turns ingested so far, top-k is unchanged across the
    merge, and after the expunge equals the oracle over the live turns.
    Returns the ingest end-to-end figures for the report."""
    late = time.perf_counter() - run.t0
    if late > NRT_START_BY_S:
        run.log(f"ingest_nrt skipped: reached at {late:.0f}s")
        return {"skipped_at_s": late}
    run.log("ingest_nrt")
    conv = pdf["conv_id"].to_numpy()
    firsts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    cuts = [int(firsts[b * NRT_CONVS]) for b in range(NRT_BATCHES)] + [int(firsts[NRT_BATCHES * NRT_CONVS])]
    texts = pdf["text"].to_numpy()[: cuts[-1]]
    path = f"{run.work}/nrt"
    tr = run.tracer
    gen = wi.QueryGen(run.seed + 1)
    walls = {"batch": [], "refresh": [], "query": []}

    def checked(op, searcher, bq, oracle):
        q = bq.parse(run.analyzer)
        hits = run.attempt(op, lambda: searcher.search(q, K).collect())
        if hits is not None:
            _oracle_check(run, f"{op} {bq.qid} {bq.text!r}", oracle, q, hits)
        return hits

    for b in range(NRT_BATCHES):
        part = pdf.iloc[cuts[b] : cuts[b + 1]][["conv_id", "turn_idx", "text"]]
        df = run.spark.createDataFrame(part)
        t0 = time.perf_counter()
        with tr.span("incremental.index_batch", request=f"nrt{b}"):
            run.attempt("index_batch", lambda: index_batch(df, b, path, n_partitions=1))
        t1 = time.perf_counter()
        with tr.span("incremental.open", request=f"nrt{b}"):
            idx = run.attempt("open_streamed_index", lambda: open_streamed_index(run.spark, path))
        t2 = time.perf_counter()
        walls["batch"].append(t1 - t0)
        walls["refresh"].append(t2 - t0)
        if idx is None:
            continue
        searcher = IndexSearcher(idx)
        oracle = OracleEngine(enumerate(texts[: cuts[b + 1]]), run.analyzer)
        run.gate("nrt doc_count", idx.doc_count == cuts[b + 1], f"{idx.doc_count} != {cuts[b + 1]}")
        bq = gen.query(f"n{b:02d}", wi.SHAPES[b % len(wi.SHAPES)])
        t3 = time.perf_counter()
        with tr.span("nrt.query", request=bq.qid):
            checked("nrt query", searcher, bq, oracle)
        walls["query"].append(time.perf_counter() - t3)
    if idx is None:
        return {}

    # deletes: mid-band terms that match a few turns each, so pending
    # deletes stay under the θ pre-pass's 256 bound
    dels = []
    for _ in range(1000):
        t = gen.term("mid")
        if len(dels) < NRT_DELETES and t not in dels:
            if NRT_DELETE_DF[0] <= len(oracle.postings.get(t, ())) <= NRT_DELETE_DF[1]:
                dels.append(t)
    def delete(t: str) -> int:
        searcher.delete_by_query(TermQuery(t))
        return idx.deletes.count()  # materializes the persisted delete set

    pending = 0
    for t in dels:
        with tr.span("searcher.delete_by_query"):
            pending = run.attempt("delete_by_query", lambda: delete(t))
    deleted = set().union(*(oracle.postings[t] for t in dels))
    run.gate("delete_by_query", pending == len(deleted), f"{pending} pending, {len(deleted)} matching")
    run.layers["searcher.pending_deletes"] = pending or 0

    checks = [gen.query(f"m{i}", shape) for i, shape in enumerate(NRT_CHECK_SHAPES)]
    before = [run.attempt("nrt search", lambda: searcher.search(bq.parse(run.analyzer), K).collect()) for bq in checks]
    runs_before = run_manifest(idx)
    t0 = time.perf_counter()
    with tr.span("merge.maybe_merge"):
        merged = run.attempt("maybe_merge", lambda: maybe_merge(idx, NRT_POLICY))
    merge_s = time.perf_counter() - t0
    run.layers["merge.runs_before"] = len(runs_before)
    if merged is not None:
        runs_after = run_manifest(merged)
        old = {r.run_id for r in runs_before}
        run.layers["merge.runs_after"] = len(runs_after)
        run.layers["merge.bytes_rewritten"] = sum(r.size_bytes for r in runs_after if r.run_id not in old)
        msearcher = IndexSearcher(merged)
        for bq, hits in zip(checks, before):
            after = run.attempt("merged search", lambda: msearcher.search(bq.parse(run.analyzer), K).collect())
            run.gate(f"top-k across maybe_merge {bq.qid}", hits is not None and after == hits, "differs")
        with tr.span("merge.expunge"):
            live = run.attempt("expunge_deletes", lambda: expunge_deletes(merged))
            if live is not None:
                live.postings.count()
        if live is not None:
            keep = [d for d in range(len(texts)) if d not in deleted]
            live_oracle = OracleEngine(((d, texts[d]) for d in keep), run.analyzer)
            run.gate("expunge doc_count", live.doc_count == len(keep), f"{live.doc_count} != {len(keep)}")
            lsearcher = IndexSearcher(live)
            for bq in checks:
                checked("expunged search", lsearcher, bq, live_oracle)
    return {
        "ingest_turns_per_s": len(texts) / (sum(walls["batch"]) + merge_s),
        "refresh_p50_s": _median(walls["refresh"]),
        "nrt_query_p50_s": _median(walls["query"]),
        "batches": NRT_BATCHES,
        "turns": len(texts),
        "delete_terms": dels,
        "pending_deletes": pending,
    }


def _tail(walls: list):
    """Highest percentile with at least ten samples beyond it, or None when
    there are too few samples for it to lie above the median."""
    n = len(walls)
    if n < 21:
        return None
    return {"p": round(100.0 * (n - 10) / n, 1), "s": sorted(walls)[n - 11]}


def query_batch(run: Run) -> dict:
    """Repeated batch_search of one seeded batch with duplicate queries."""
    t0 = time.perf_counter()
    pdf = run.stage()
    idx, searcher, gate = _searchable_index(run, pdf)
    setup_s = run.session_s + time.perf_counter() - t0

    gen = wi.QueryGen(run.seed)
    batch = gen.batch(BATCH_SIZE, BATCH_DUP_SHARE)
    queries = {bq.qid: bq.parse(run.analyzer) for bq in batch}
    outputs = []  # rows of every batch_search call, warm-up first

    def one(qs: dict, tag: str) -> None:
        outputs.append((qs, tag, _batch_query(run, searcher, qs, tag)))

    for w in range(WARMUP_BATCHES):
        run.warmup("warm-up batch", lambda: one(queries, f"warmup{w}"))
    run.log("warm-up done")
    walls = run.window(lambda i: run.attempt("batch", lambda: one(queries, f"batch{i}")))

    oracle = _oracle(run, pdf["text"])
    run.gate("index", (idx.doc_count, idx.sum_ttf) == (len(pdf), oracle.sum_ttf), "doc_count/sum_ttf")
    expected = {}
    for qs, tag, rows in outputs:
        _check_batch(run, oracle, qs, tag, rows, expected)
    # batch rows must equal per-query search() for the same queries
    spot = np.random.default_rng([run.seed, 29]).choice(len(batch), BATCH_SPOT_CHECKS, replace=False)
    last = {}
    for r in outputs[-1][2] if outputs else ():
        last.setdefault(r["query_id"], []).append((int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    for i in spot:
        qid = batch[int(i)].qid
        hits = run.attempt("search", lambda: searcher.search(queries[qid], K).collect())
        if hits is not None:
            rows = [(d, s) for _, d, s in sorted(last.get(qid, []))]
            run.gate(f"search vs batch {qid}", [(int(d), float(s)) for d, s in hits] == rows, "differs")

    if run.trace:
        _batch_prune_layer(run, searcher, queries)
        # one single query, so the single-query layers are measured here
        # too; it is the session's first θ-pruned one, so it pays that
        # plan's first use
        extra = gen.query("x0", "or2")
        res = run.attempt("query", lambda: _single_query(run, searcher, extra))
        if res is not None:
            _check_single(run, oracle, pdf["text"].to_numpy(), extra, *res)
        _prune_layers(run, searcher, [extra])
        nrt = _shared_layers(run, pdf, idx)
    return {
        "e2e": {
            "setup_s": setup_s,
            "op_p50_s": _median(walls),
            "throughput_per_s": _throughput(walls, BATCH_SIZE),
        },
        "workload": {
            "batch_queries_per_s": _throughput(walls, BATCH_SIZE),
            "batch_p50_s": _median(walls),
            "batches": len(walls),
            "batch_size": BATCH_SIZE,
            **({"ingest_nrt": nrt} if run.trace else {}),
        },
        "inputs": dict(
            wi.query_properties(batch, run.analyzer, gen.hot_terms, oracle.postings),
            turns=len(pdf),
            prune_min_postings=gate,
        ),
    }


WORKLOADS = {"build": build, "query_single": query_single, "query_batch": query_batch}
