"""The benchmark's workloads: set-up, one timed unit of work, and the
check of what that unit returned.

Each workload calls only the library's public functions with inputs
from ``perfbench.inputs``; spans name the layer each call lands in.
A unit is one request batch; on stream-churn the batch is a search
checkpoint, preceded by the runbook writes since the previous one.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import check, inputs

K = 10


@dataclass
class Unit:
    """One timed unit of work and what its check needs."""

    latency_s: float  # the request batch
    wall_s: float  # the whole unit, writes included
    nq: int
    traced: bool
    layer_s: dict  # seconds per layer call
    counts: object = None  # tracing.CallCounts when traced
    payload: object = None  # the answer, as check() needs it
    pos: int = 0  # position within the workload's cycle of units


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class Context:
    """What a workload needs from the runner: the session, the seed, a
    scratch directory, the tracer and the scheduler counters."""

    def __init__(self, spark, seed, work_dir, tracer, counters):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.counters = counters
        self.setup_layer_s: dict[str, float] = {}

    def timed(self, name: str, fn, *args, **kwargs):
        """Call fn under a span and return (result, seconds)."""
        with self.tracer.span(name):
            t = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t

    def setup_step(self, name: str, fn, *args, **kwargs):
        out, dt = self.timed(name, fn, *args, **kwargs)
        self.setup_layer_s[name] = self.setup_layer_s.get(name, 0.0) + dt
        return out

    def request(self, traced: bool, body) -> Unit:
        """Run ``body(layer_s)``, which returns the number of queries it
        sent, as one timed request batch; with tracing on it runs under
        its own job group and the counts are kept."""
        layer_s: dict[str, float] = {}
        counts: list = []
        t = time.perf_counter()
        if traced:
            with self.tracer.span("client.request") as attrs, self.counters.group(counts):
                nq = body(layer_s)
            attrs.update(vars(counts[0]))
        else:
            nq = body(layer_s)
        latency = time.perf_counter() - t
        return Unit(latency, latency, nq, traced, layer_s, counts[0] if counts else None)


def _rows(result, score_col: str):
    """Collected Rows -> (qid, rank, id, score) arrays."""
    qid = np.array([r["qid"] for r in result], dtype=np.int64)
    rank = np.array([r["rank"] for r in result], dtype=np.int64)
    ids = np.array([r["id"] for r in result], dtype=np.int64)
    score = np.array([r[score_col] for r in result], dtype=np.float64)
    return qid, rank, ids, score


def _by_query(result, score_col: str) -> dict:
    qid, rank, ids, score = _rows(result, score_col)
    return check.group_rows(qid, rank, ids, score)


# ------------------------------------------------------------ filter

class FilterSearch:
    """Filtered k-NN through ``index.filteridx`` on a yfcc-shaped corpus.

    Corpus and routing threshold keep one index build near half a
    minute on four cores, so one run fits the benchmark's time budget
    while the query pool still routes through the pair view, the tag
    view and the metadata-first sweep."""

    N = 20_000
    MIN_FREQ = 0.02
    BATCH = 16
    POOL = 512  # distinct queries; batches cycle through them
    cycle = 1
    bytes_ratio = 0.0

    def setup(self, ctx: Context) -> None:
        from filter_vectordb_spark.index.filteridx import build_filtered_index
        from filter_vectordb_spark.sources.synth import SCALE_D, synth_yfcc_base

        self.index_dir = os.path.join(ctx.work_dir, "filteridx")
        base = ctx.setup_step(
            "sources.corpus_gen", lambda: synth_yfcc_base(ctx.spark, n=self.N).localCheckpoint()
        )
        ctx.setup_step(
            "index.filteridx.build",
            build_filtered_index,
            base,
            self.index_dir,
            min_freq=self.MIN_FREQ,
            pair_min_freq=self.MIN_FREQ,
        )
        self.bytes_ratio = dir_bytes(self.index_dir) / float(self.N * SCALE_D)
        self.q = inputs.filter_queries(ctx.seed, self.N, self.POOL)
        self.truth = None
        self._next = 0

    def _frame(self, spark, lo: int, hi: int):
        pdf = pd.DataFrame(
            {
                "qid": np.arange(lo, hi, dtype=np.int64),
                "qemb": list(self.q.qemb[lo:hi]),
                "qtags": self.q.qtags[lo:hi],
            }
        )
        return spark.createDataFrame(pdf, "qid LONG, qemb ARRAY<INT>, qtags ARRAY<INT>")

    def unit(self, ctx: Context, traced: bool) -> Unit:
        from filter_vectordb_spark.index.filteridx import filtered_search

        lo = self._next
        hi = lo + self.BATCH
        self._next = hi % self.POOL
        out = {}

        def body(layer_s):
            qdf, layer_s["client.upload"] = ctx.timed("client.upload", self._frame, ctx.spark, lo, hi)
            df, layer_s["index.filteridx.plan"] = ctx.timed(
                "index.filteridx.plan", filtered_search, ctx.spark, self.index_dir, qdf, k=K
            )
            out["rows"], layer_s["index.filteridx.exec"] = ctx.timed("index.filteridx.exec", df.collect)
            return hi - lo

        u = ctx.request(traced, body)
        u.payload = (lo, hi, out["rows"])
        return u

    def warmup(self, ctx: Context) -> list[Unit]:
        return [self.unit(ctx, traced=False)]

    def rates(self, unit: Unit) -> dict[str, list[float]]:
        return {}

    def check(self, units: list[Unit]) -> list[list[check.Verdict]]:
        if self.truth is None:
            self.truth = check.FilterTruth(self.N)
        verdicts = []
        for u in units:
            lo, hi, rows = u.payload
            got = {q - lo: v for q, v in _by_query(rows, "dist").items()}
            verdicts.append(
                self.truth.verdicts(self.q.qemb[lo:hi], self.q.qtags[lo:hi], got, K)
            )
        return verdicts


# ------------------------------------------------------------ stream

class StreamChurn:
    """A delete-runbook replayed step by step through an unbound
    ``StreamingReplayer``: every insert ships its rows, every search
    checkpoint is collected, and the capacity cap makes consolidation
    fire during each pass.

    A unit is one segment of the runbook: the writes since the previous
    search, then the search.  Segments keep units short, so a run ends
    close to its time limit; a pass over every segment is one cycle, and
    the next cycle replays the runbook on a fresh replayer."""

    N = 20_000
    D = 100
    NCLUSTERS = 8
    NQ = 64

    def setup(self, ctx: Context) -> None:
        from filter_vectordb_spark.sources.synth import synth_uint8_base
        from filter_vectordb_spark.streaming.clustered import generate_delete_runbook
        from filter_vectordb_spark.streaming.runbook import (
            Runbook,
            parse_runbook_yaml,
            simulate_replay_counters,
        )

        spark = ctx.spark
        self.inp = inputs.stream_inputs(ctx.seed, self.N, self.NCLUSTERS, self.NQ, self.D)
        path = os.path.join(ctx.work_dir, "stream_corpus")

        def stage():
            synth_uint8_base(spark, n=self.N, d=self.D).select("id", "emb").write.mode(
                "overwrite"
            ).parquet(path)
            return spark.read.parquet(path)

        self.source = ctx.setup_step("sources.corpus_gen", stage)
        yaml_path = os.path.join(ctx.work_dir, "delete_runbook.yaml")

        def load():
            generate_delete_runbook(self.inp.offsets, yaml_path)
            return parse_runbook_yaml(yaml_path)

        self.runbook = ctx.setup_step("streaming.runbook.load", load)
        steps = self.runbook.steps
        searches = [i for i, st in enumerate(steps) if st.operation == "search"]
        self.segments = list(zip([0] + [i + 1 for i in searches[:-1]], searches))
        self.cycle = len(self.segments)
        self.expected_consolidations = {
            i: simulate_replay_counters(Runbook(self.runbook.max_pts, steps[: i + 1]))["consolidations"]
            for i in searches
        }
        self.queries = spark.createDataFrame(
            pd.DataFrame({"qid": np.arange(self.NQ, dtype=np.int64), "qemb": list(self.inp.qemb)}),
            "qid LONG, qemb ARRAY<INT>",
        )
        self._live: dict[int, np.ndarray] = {}
        self._seg = 0
        self.rp = None

    def _replayer(self, ctx: Context):
        from filter_vectordb_spark.streaming.runbook import StreamingReplayer

        return StreamingReplayer(ctx.spark, self.runbook.max_pts)

    def warmup(self, ctx: Context) -> list[Unit]:
        """One whole untimed pass, so every segment's code path is warm."""
        rp = self._replayer(ctx)
        return [self._segment(ctx, rp, seg, traced=False) for seg in range(self.cycle)]

    def unit(self, ctx: Context, traced: bool) -> Unit:
        if self._seg == 0:
            self.rp = self._replayer(ctx)
        u = self._segment(ctx, self.rp, self._seg, traced)
        self._seg = (self._seg + 1) % self.cycle
        return u

    def _segment(self, ctx: Context, rp, seg: int, traced: bool) -> Unit:
        from pyspark.sql import functions as F

        first, search = self.segments[seg]
        layer_s = {"streaming.runbook.insert": 0.0, "streaming.runbook.delete": 0.0}
        got = {}

        def body(bl):
            df, bl["streaming.runbook.search_plan"] = ctx.timed(
                "streaming.runbook.search_plan", rp.search, self.queries, K, compute_dtype="float32"
            )
            # collecting the search frame runs the exact scan of operators.knn
            with ctx.tracer.span("streaming.runbook.search_exec"):
                got["rows"], bl["streaming.runbook.search_exec"] = ctx.timed("operators.knn.scan", df.collect)
            return self.NQ

        t0 = time.perf_counter()
        with ctx.tracer.span("streaming.runbook.segment"):
            for step in self.runbook.steps[first:search]:
                if step.operation == "insert":
                    rows = self.source.filter(F.col("id").between(step.start, step.end - 1))
                    _, dt = ctx.timed("streaming.runbook.insert", rp.insert, rows, step.start, step.end)
                    layer_s["streaming.runbook.insert"] += dt
                elif step.operation == "delete":
                    _, dt = ctx.timed("streaming.runbook.delete", rp.delete_range, step.start, step.end)
                    layer_s["streaming.runbook.delete"] += dt
                else:
                    raise ValueError(f"unexpected runbook step {step.operation!r}")
            u = ctx.request(traced, body)
        u.wall_s = time.perf_counter() - t0
        u.layer_s.update(layer_s)
        u.payload = (search, rp.consolidations, got["rows"])
        u.pos = seg
        return u

    def rates(self, unit: Unit) -> dict[str, list[float]]:
        """Rows the exact scan compared per second: live rows x queries
        over the collect time of the search."""
        search, _, _ = unit.payload
        rows = len(self.live_rows(search)) * unit.nq
        return {"operators.knn.scan_rows_per_s": [rows / unit.layer_s["streaming.runbook.search_exec"]]}

    def live_rows(self, step_index: int) -> np.ndarray:
        """Ids live at a search step, from the checker's set arithmetic."""
        if step_index not in self._live:
            self._live[step_index] = check.stream_active_ids(self.runbook.steps, step_index, self.N)
        return self._live[step_index]

    def check(self, units: list[Unit]) -> list[list[check.Verdict]]:
        """Exact k-NN over the live ids at each search; a consolidation
        count that differs from simulate_replay_counters fails the batch."""
        verdicts = []
        for u in units:
            search, consolidations, rows = u.payload
            vs = check.stream_verdicts(
                self.live_rows(search), self.inp.qemb, self.D, _by_query(rows, "dist"), K
            )
            if consolidations != self.expected_consolidations[search]:
                vs = [check.Verdict(v.hits, v.expected, False) for v in vs]
            verdicts.append(vs)
        return verdicts


# ------------------------------------------------------------ sparse

class SparseBatch:
    """Sparse MIPS through ``operators.sparse.sparse_topk_sharded`` over
    a SPLADE-shaped corpus staged as id-range, term-sorted segments."""

    N = 100_000
    NNZ = 50
    Q_NNZ = 20
    BATCH = 1024
    POOL = 4096
    cycle = 1

    def setup(self, ctx: Context) -> None:
        from filter_vectordb_spark.sources.synth import SPARSE_VOCAB, synth_sparse_terms

        self.vocab = SPARSE_VOCAB
        self.terms_dir = os.path.join(ctx.work_dir, "sparse_segments")

        # one segment per core: a segment is one scan task, and fewer,
        # larger tasks halved the per-batch time on four cores
        segments = ctx.spark.sparkContext.defaultParallelism

        def stage():
            synth_sparse_terms(ctx.spark, n=self.N, nnz=self.NNZ).repartitionByRange(
                segments, "id"
            ).sortWithinPartitions("term").write.mode("overwrite").parquet(self.terms_dir)

        ctx.setup_step("sources.corpus_gen", stage)
        self.q = inputs.sparse_queries(ctx.seed, self.POOL, self.Q_NNZ, self.vocab)
        self.truth = None
        self._next = 0

    def _slice(self, lo: int, hi: int) -> pd.DataFrame:
        sel = (self.q.qid >= lo) & (self.q.qid < hi)
        return pd.DataFrame({"qid": self.q.qid[sel], "term": self.q.term[sel], "w": self.q.w[sel]})

    def unit(self, ctx: Context, traced: bool) -> Unit:
        from filter_vectordb_spark.operators.sparse import sparse_topk_sharded

        lo = self._next
        hi = lo + self.BATCH
        self._next = hi % self.POOL
        out = {}

        def body(layer_s):
            qdf, layer_s["client.upload"] = ctx.timed(
                "client.upload", ctx.spark.createDataFrame, self._slice(lo, hi), "qid LONG, term LONG, w LONG"
            )
            df, layer_s["operators.sparse.plan"] = ctx.timed(
                "operators.sparse.plan", sparse_topk_sharded, ctx.spark, self.terms_dir, qdf, K
            )
            out["rows"], layer_s["operators.sparse.exec"] = ctx.timed("operators.sparse.exec", df.collect)
            return hi - lo

        u = ctx.request(traced, body)
        u.payload = (lo, hi, out["rows"])
        return u

    def warmup(self, ctx: Context) -> list[Unit]:
        return [self.unit(ctx, traced=False)]

    def _truth(self) -> check.SparseTruth:
        if self.truth is None:
            self.truth = check.SparseTruth(self.N, self.NNZ, self.vocab)
        return self.truth

    def rates(self, unit: Unit) -> dict[str, list[float]]:
        """Postings scored per second: the summed document frequency of
        the batch's query terms over its collect time."""
        lo, hi, _ = unit.payload
        scored = self._truth().postings(self._slice(lo, hi)["term"].to_numpy())
        return {"operators.sparse.postings_per_s": [scored / unit.layer_s["operators.sparse.exec"]]}

    def check(self, units: list[Unit]) -> list[list[check.Verdict]]:
        truth = self._truth()
        verdicts = []
        for u in units:
            lo, hi, rows = u.payload
            sl = self._slice(lo, hi)
            sub = inputs.SparseQueries(
                qid=sl["qid"].to_numpy() - lo, term=sl["term"].to_numpy(), w=sl["w"].to_numpy(), nq=hi - lo
            )
            got = {q - lo: v for q, v in _by_query(rows, "score").items()}
            verdicts.append(truth.verdicts(sub, got, K))
        return verdicts


WORKLOADS = {
    "filter-interactive": FilterSearch,
    "stream-churn": StreamChurn,
    "sparse-batch": SparseBatch,
}
