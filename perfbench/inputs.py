"""Seeded input generator.

Every input is drawn from ``numpy.random.default_rng`` streams keyed by
the ``--seed`` argument and then expanded through the closed-form
``sources.synth`` generators, so one seed always yields the same
queries, tag conjunctions, sparse query docs and runbook cluster
offsets.  The program under test only ever sees the expanded inputs.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from filter_vectordb_spark.sources import synth

#: query embeddings and sparse query docs use ids at or above this
#: offset: off-corpus for every corpus size the benchmark builds
QUERY_ID_BASE = 1 << 24


def _rng(seed: int, stream: int) -> np.random.Generator:
    # one independent stream per input kind: adding a draw to one kind
    # never shifts the inputs of another
    return np.random.default_rng([int(seed), stream])


def distinct_in_order(row: np.ndarray) -> np.ndarray:
    """Distinct values of a 1-d array in first-occurrence order."""
    _, first = np.unique(row, return_index=True)
    return row[np.sort(first)]


def uint8_pattern(ids: np.ndarray, d: int) -> np.ndarray:
    """The ``synth_uint8_base`` vectors as an (n, d) int64 block."""
    ids = np.asarray(ids, dtype=np.int64)
    js = np.arange(d, dtype=np.int64)
    h = (ids[:, None] * synth._K1) ^ ((js[None, :] + 1) * synth._K3)
    return (h >> 11) % 251


def sparse_doc_terms(
    ids: np.ndarray, nnz: int, vocab: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The ``synth_sparse_terms`` rows of ``ids`` (uniform profile) as
    (row index into ids, term, weight), duplicate terms within a doc
    merged by summing their weights."""
    ids = np.asarray(ids, dtype=np.int64)
    js = np.arange(nnz, dtype=np.int64)
    t = (ids[:, None] * synth._K1 + js[None, :] * js[None, :] * synth._K2) % vocab
    w = synth.sparse_weight_matrix(ids, nnz, "uniform")
    row = np.repeat(np.arange(len(ids), dtype=np.int64), nnz)
    key = row * vocab + t.ravel()
    uk, inv = np.unique(key, return_inverse=True)
    wsum = np.bincount(inv, weights=w.ravel()).astype(np.int64)
    return uk // vocab, uk % vocab, wsum


@dataclass(frozen=True)
class FilterQueries:
    """Filtered k-NN queries: qemb (nq, d) int32 and one 1-2-tag
    conjunction per query, drawn from corpus doc ``src_doc``."""

    qemb: np.ndarray
    qtags: list[np.ndarray]
    src_doc: np.ndarray


def filter_queries(seed: int, n: int, nq: int, d: int = synth.SCALE_D) -> FilterQueries:
    """Off-corpus in-distribution embeddings (the clustered yfcc pattern
    at ids >= QUERY_ID_BASE) with the first one or two distinct tags of a
    seeded corpus doc, so every conjunction matches at least that doc."""
    rng = _rng(seed, 1)
    src = rng.integers(0, n, nq, dtype=np.int64)
    ntags = 1 + rng.integers(0, 2, nq)
    draws = synth.yfcc_draws(src)
    qtags = [
        distinct_in_order(row)[:k].astype(np.int32) for row, k in zip(draws, ntags)
    ]
    emb_ids = QUERY_ID_BASE + rng.choice(QUERY_ID_BASE, nq, replace=False)
    qemb = synth.yfcc_emb_matrix(emb_ids, d).astype(np.int32)
    return FilterQueries(qemb=qemb, qtags=qtags, src_doc=src)


@dataclass(frozen=True)
class SparseQueries:
    """Long-form sparse queries (qid, term, w), qid = 0..nq-1."""

    qid: np.ndarray
    term: np.ndarray
    w: np.ndarray
    nq: int


def sparse_queries(seed: int, nq: int, nnz: int, vocab: int = synth.SPARSE_VOCAB) -> SparseQueries:
    """SPLADE-shaped query docs: the closed-form sparse doc of a seeded
    off-corpus id, truncated to its first ``nnz`` terms."""
    rng = _rng(seed, 2)
    ids = QUERY_ID_BASE + rng.choice(QUERY_ID_BASE, nq, replace=False)
    qid, term, w = sparse_doc_terms(ids, nnz, vocab)
    return SparseQueries(qid=qid, term=term, w=w, nq=nq)


@dataclass(frozen=True)
class StreamInputs:
    """Runbook cluster offsets over [0, n) and off-corpus queries."""

    offsets: list[int]
    qemb: np.ndarray


def stream_inputs(seed: int, n: int, nclusters: int, nq: int, d: int) -> StreamInputs:
    """Cluster sizes vary +-25% around n / nclusters (seeded); queries
    are the uint8 base pattern at seeded off-corpus ids."""
    rng = _rng(seed, 3)
    raw = rng.uniform(0.75, 1.25, nclusters)
    cuts = np.floor(np.cumsum(raw) / raw.sum() * n).astype(np.int64)
    offsets = [0] + [int(c) for c in cuts[:-1]] + [n]
    ids = QUERY_ID_BASE + rng.choice(QUERY_ID_BASE, nq, replace=False)
    return StreamInputs(offsets=offsets, qemb=uint8_pattern(ids, d).astype(np.int32))
