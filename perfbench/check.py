"""Independent numpy checker.

Ground truth is recomputed from the closed-form generators, never read
back from the program: the yfcc embeddings and tag draws for filtered
k-NN, the uint8 base pattern for the streaming replay, and the sparse
weight matrix for MIPS.  Every returned distance or score must equal the
recomputed one exactly (all corpora are integer-valued), and recall is
tie-aware: a returned id counts as a hit when its true score is no worse
than the k-th best true score.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from filter_vectordb_spark.sources import synth

from perfbench.inputs import distinct_in_order, sparse_doc_terms, uint8_pattern


@dataclass
class Verdict:
    """Outcome for one query: hits out of expected, and whether every
    returned row is right (count, ids, scores and rank order)."""

    hits: int
    expected: int
    ok: bool


def topk_verdict(
    cand_ids: np.ndarray,
    cand_scores: np.ndarray,
    got_ids: np.ndarray,
    got_scores: np.ndarray,
    k: int,
    largest: bool,
) -> Verdict:
    """Check one query's answer against all of its candidates.

    got_* must be in rank order.  The answer is right when it has
    min(k, #candidates) distinct candidate ids, each returned score equals
    that id's true score, scores are ordered by rank, and every returned
    id is within the tie-aware top k."""
    expected = min(k, len(cand_ids))
    if expected == 0:
        return Verdict(0, 0, len(got_ids) == 0)
    order = np.argsort(cand_ids)
    sid, ssc = cand_ids[order], cand_scores[order]
    pos = np.searchsorted(sid, got_ids)
    pos_ok = pos < len(sid)
    known = np.zeros(len(got_ids), dtype=bool)
    known[pos_ok] = sid[pos[pos_ok]] == got_ids[pos_ok]
    true = np.where(known, ssc[np.minimum(pos, len(sid) - 1)], np.nan)
    ranked = np.sort(cand_scores)[::-1] if largest else np.sort(cand_scores)
    kth = ranked[expected - 1]
    within = (true >= kth) if largest else (true <= kth)
    hits = len(np.unique(got_ids[known & within]))
    step = np.diff(np.asarray(got_scores, dtype=np.float64))
    ordered = bool((step <= 0).all() if largest else (step >= 0).all())
    ok = (
        len(got_ids) == expected
        and len(np.unique(got_ids)) == len(got_ids)
        and bool(known.all())
        and bool(np.array_equal(true, np.asarray(got_scores, dtype=np.float64)))
        and ordered
        and hits == expected
    )
    return Verdict(hits, expected, ok)


def group_rows(qid: np.ndarray, rank: np.ndarray, *cols: np.ndarray) -> dict:
    """{qid: (col arrays in rank order)} from flat result columns."""
    if len(qid) == 0:
        return {}
    order = np.lexsort((rank, qid))
    qid = qid[order]
    cols = [c[order] for c in cols]
    bounds = np.flatnonzero(np.r_[True, qid[1:] != qid[:-1], True])
    return {
        int(qid[a]): tuple(c[a:b] for c in cols)
        for a, b in zip(bounds[:-1], bounds[1:])
    }


def _sqdist(X: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """(nq, n) squared L2 of integer rows, exact in float64."""
    Xf = X.astype(np.float64)
    Qf = Q.astype(np.float64)
    return (Qf * Qf).sum(1)[:, None] - 2.0 * (Qf @ Xf.T) + (Xf * Xf).sum(1)[None, :]


class FilterTruth:
    """Ground truth for filtered k-NN over the yfcc-shaped corpus 0..n-1."""

    def __init__(self, n: int, d: int = synth.SCALE_D):
        ids = np.arange(n, dtype=np.int64)
        self.X = synth.yfcc_emb_matrix(ids, d).astype(np.int32)
        draws = synth.yfcc_draws(ids)
        pairs = [(t, i) for i, row in enumerate(draws) for t in distinct_in_order(row)]
        arr = np.array(pairs, dtype=np.int64)
        order = np.lexsort((arr[:, 1], arr[:, 0]))
        self._tag = arr[order, 0]
        self._doc = arr[order, 1]

    def docs_with(self, tags) -> np.ndarray:
        """Sorted ids of docs carrying every tag of the conjunction."""
        out = None
        for t in tags:
            lo, hi = np.searchsorted(self._tag, [t, t + 1])
            docs = self._doc[lo:hi]
            out = docs if out is None else np.intersect1d(out, docs, assume_unique=True)
        return out if out is not None else np.arange(len(self.X), dtype=np.int64)

    def verdicts(self, qemb, qtags, got: dict, k: int) -> list[Verdict]:
        """One verdict per query i (result qid == i)."""
        groups: dict[tuple, list[int]] = {}
        for i, tags in enumerate(qtags):
            groups.setdefault(tuple(int(t) for t in tags), []).append(i)
        out: dict[int, Verdict] = {}
        empty = (np.empty(0, np.int64), np.empty(0))
        for tags, qs in groups.items():
            cand = self.docs_with(tags)
            D = _sqdist(self.X[cand], qemb[qs])
            for row, i in enumerate(qs):
                gid, gd = got.get(i, empty)
                out[i] = topk_verdict(cand, D[row], gid, gd, k, largest=False)
        return [out[i] for i in range(len(qtags))]


class SparseTruth:
    """Ground truth for sparse MIPS over the uniform-profile corpus."""

    def __init__(self, n: int, nnz: int, vocab: int):
        doc, term, w = sparse_doc_terms(np.arange(n, dtype=np.int64), nnz, vocab)
        order = np.lexsort((doc, term))
        self.n = n
        self._term, self._doc, self._w = term[order], doc[order], w[order]

    def postings(self, qterm: np.ndarray) -> int:
        """Sum of document frequencies of the given query terms."""
        lo = np.searchsorted(self._term, qterm, side="left")
        hi = np.searchsorted(self._term, qterm, side="right")
        return int((hi - lo).sum())

    def verdicts(self, queries, got: dict, k: int) -> list[Verdict]:
        qg = group_rows(queries.qid, queries.term, queries.term, queries.w)
        empty = (np.empty(0, np.int64), np.empty(0))
        out = []
        for q in range(queries.nq):
            terms, ws = qg.get(q, (np.empty(0, np.int64), np.empty(0, np.int64)))
            lo = np.searchsorted(self._term, terms, side="left")
            hi = np.searchsorted(self._term, terms, side="right")
            sel = np.concatenate([np.arange(a, b) for a, b in zip(lo, hi)] or [np.empty(0, np.int64)])
            qw = np.repeat(ws, hi - lo)
            score = np.bincount(self._doc[sel], weights=qw * self._w[sel], minlength=self.n)
            cand = np.flatnonzero(score > 0)
            gid, gs = got.get(q, empty)
            out.append(topk_verdict(cand, score[cand], gid, gs, k, largest=True))
        return out


def stream_active_ids(steps, upto: int, n: int) -> np.ndarray:
    """Ids live after replaying runbook ``steps[:upto]`` by plain set
    arithmetic: inserts add their range, deletes remove theirs."""
    live = np.zeros(n, dtype=bool)
    for s in steps[:upto]:
        if s.operation == "insert":
            live[s.start : s.end] = True
        elif s.operation == "delete":
            live[s.start : s.end] = False
    return np.flatnonzero(live)


def stream_verdicts(active: np.ndarray, qemb: np.ndarray, d: int, got: dict, k: int) -> list[Verdict]:
    """Exact k-NN over the live ids of the uint8 base pattern."""
    D = _sqdist(uint8_pattern(active, d), qemb)
    empty = (np.empty(0, np.int64), np.empty(0))
    return [
        topk_verdict(active, D[i], *got.get(i, empty), k, largest=False)
        for i in range(len(qemb))
    ]
