"""Tests of the benchmark's own code: checker, input generator, span
arithmetic and the metric names it prints.  No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from perfbench import check, inputs, run, workloads
from perfbench.tracing import Span, covered, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
K = 10


# ------------------------------------------------------------ checker

def _bruteforce_filter(truth, qemb, tags):
    """Reference answer by a plain loop: (ids, squared distances)."""
    rows = []
    for i in range(len(truth.X)):
        if all(t in set(truth._tag[truth._doc == i]) for t in tags):
            diff = truth.X[i].astype(np.int64) - qemb.astype(np.int64)
            rows.append((int(diff @ diff), i))
    rows.sort()
    rows = rows[:K]
    return np.array([i for _, i in rows]), np.array([float(d) for d, _ in rows])


@pytest.fixture(scope="module")
def filter_case():
    truth = check.FilterTruth(1500)
    q = inputs.filter_queries(seed=5, n=1500, nq=8)
    return truth, q


def test_filter_checker_accepts_right_answer(filter_case):
    truth, q = filter_case
    got = {i: _bruteforce_filter(truth, q.qemb[i], q.qtags[i]) for i in range(8)}
    vs = truth.verdicts(q.qemb, q.qtags, got, K)
    assert all(v.ok and v.hits == v.expected for v in vs)


def test_filter_checker_rejects_perturbed_id(filter_case):
    truth, q = filter_case
    i = max(range(8), key=lambda j: len(truth.docs_with(q.qtags[j])))
    cand = truth.docs_with(q.qtags[i])
    assert len(cand) > K
    ids, dist = _bruteforce_filter(truth, q.qemb[i], q.qtags[i])
    outside = np.setdiff1d(cand, ids)
    # swap the nearest answer for a farther candidate, keeping its true
    # distance so only the id check can catch it
    far = outside[np.argmax(check._sqdist(truth.X[outside], q.qemb[i : i + 1])[0])]
    bad_ids = ids.copy()
    bad_ids[-1] = far
    bad_dist = dist.copy()
    bad_dist[-1] = float(check._sqdist(truth.X[[far]], q.qemb[i : i + 1])[0, 0])
    v = truth.verdicts(q.qemb[i : i + 1], [q.qtags[i]], {0: (bad_ids, bad_dist)}, K)[0]
    assert not v.ok and v.hits == v.expected - 1


def test_filter_checker_rejects_perturbed_distance(filter_case):
    truth, q = filter_case
    ids, dist = _bruteforce_filter(truth, q.qemb[0], q.qtags[0])
    bad = dist.copy()
    bad[0] += 1.0
    v = truth.verdicts(q.qemb[:1], [q.qtags[0]], {0: (ids, bad)}, K)[0]
    assert not v.ok and v.hits == v.expected


def test_checker_rejects_missing_and_extra_rows():
    cand = np.arange(20)
    score = np.arange(20, dtype=np.float64)
    assert check.topk_verdict(cand, score, cand[:10], score[:10], K, largest=False).ok
    assert not check.topk_verdict(cand, score, cand[:9], score[:9], K, largest=False).ok
    dup = np.r_[cand[:9], cand[8]]
    v = check.topk_verdict(cand, score, dup, score[dup], K, largest=False)
    assert not v.ok and v.hits == 9
    # an empty answer is a wrong answer, not a checker crash
    assert check.group_rows(np.empty(0, np.int64), np.empty(0, np.int64)) == {}
    assert not check.topk_verdict(cand, score, np.empty(0, np.int64), np.empty(0), K, largest=False).ok


def test_checker_is_tie_aware():
    """Either of two ids tied at the k-th distance is a right answer."""
    cand = np.arange(12)
    score = np.r_[np.arange(9), [9.0, 9.0, 20.0]]
    for last in (9, 10):
        got = np.r_[np.arange(9), [last]]
        assert check.topk_verdict(cand, score, got, score[got], K, largest=False).ok


def test_sparse_checker_scores_and_rejects_perturbation():
    truth = check.SparseTruth(n=3000, nnz=20, vocab=500)
    q = inputs.sparse_queries(seed=2, nq=3, nnz=8, vocab=500)
    doc, term, w = inputs.sparse_doc_terms(np.arange(3000), 20, 500)
    dense = np.zeros((3000, 500))
    dense[doc, term] = w
    qd = np.zeros((3, 500))
    qd[q.qid, q.term] = q.w
    scores = qd @ dense.T
    got = {}
    for i in range(3):
        order = np.lexsort((np.arange(3000), -scores[i]))[:K]
        got[i] = (order, scores[i, order])
    assert all(v.ok for v in truth.verdicts(q, got, K))
    ids, sc = got[1]
    bad = {**got, 1: (ids, sc + np.r_[np.zeros(K - 1), 1.0])}
    vs = truth.verdicts(q, bad, K)
    assert [v.ok for v in vs] == [True, False, True]


def test_stream_checker_live_ids_and_rejection():
    from filter_vectordb_spark.streaming.runbook import RunbookStep

    steps = [RunbookStep("insert", 0, 50), RunbookStep("delete", 10, 20), RunbookStep("search")]
    live = check.stream_active_ids(steps, 2, 60)
    assert np.array_equal(live, np.r_[0:10, 20:50])
    qemb = inputs.uint8_pattern(np.array([1 << 24]), 16)
    D = check._sqdist(inputs.uint8_pattern(live, 16), qemb)[0]
    order = np.lexsort((live, D))[:K]
    got = {0: (live[order], D[order])}
    assert check.stream_verdicts(live, qemb, 16, got, K)[0].ok
    deleted = {0: (np.r_[live[order][:-1], 15], np.r_[D[order][:-1], 0.0])}
    assert not check.stream_verdicts(live, qemb, 16, deleted, K)[0].ok


# ------------------------------------------------------------ generator

def test_generator_deterministic_per_seed_and_differs_across_seeds():
    a, b, c = (inputs.filter_queries(s, 5000, 64) for s in (7, 7, 8))
    assert np.array_equal(a.qemb, b.qemb) and all(np.array_equal(x, y) for x, y in zip(a.qtags, b.qtags))
    assert not np.array_equal(a.qemb, c.qemb)
    s1, s2, s3 = (inputs.sparse_queries(s, 32, 20) for s in (7, 7, 8))
    assert np.array_equal(s1.term, s2.term) and np.array_equal(s1.w, s2.w)
    assert not np.array_equal(s1.term, s3.term)
    t1, t2, t3 = (inputs.stream_inputs(s, 20_000, 8, 16, 100) for s in (7, 7, 8))
    assert t1.offsets == t2.offsets and np.array_equal(t1.qemb, t2.qemb)
    assert t1.offsets != t3.offsets


def test_filter_queries_match_their_source_doc():
    truth = check.FilterTruth(3000)
    q = inputs.filter_queries(seed=11, n=3000, nq=50)
    assert len(q.qtags) == len(q.qemb) == 50
    assert all(1 <= len(t) <= 2 for t in q.qtags)
    for tags, src in zip(q.qtags, q.src_doc):
        assert src in truth.docs_with(tags)


def test_stream_offsets_partition_the_corpus():
    t = inputs.stream_inputs(3, 20_000, 8, 4, 100)
    sizes = np.diff(t.offsets)
    assert t.offsets[0] == 0 and t.offsets[-1] == 20_000 and len(sizes) == 8
    assert sizes.min() > 0.5 * 20_000 / 8


# ------------------------------------------------------------ tracing

def _span(sid, name, start, end, parent=None):
    return Span(name, start, end, parent, request=1, id=sid)


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (8, 12)], 0, 10) == pytest.approx(6.0)
    assert covered([], 0, 10) == 0.0
    assert covered([(11, 12)], 0, 10) == 0.0


def test_self_time_per_layer():
    spans = [
        _span(0, "client.request", 0.0, 10.0),
        _span(1, "index.filteridx.plan", 1.0, 3.0, parent=0),
        _span(2, "index.filteridx.exec", 3.0, 9.0, parent=0),
        _span(3, "client.upload", 9.0, 9.5, parent=0),
    ]
    own = self_times(spans)
    assert own["client"] == pytest.approx(10.0 - 8.5 + 0.5)
    assert own["index.filteridx"] == pytest.approx(8.0)
    assert sum(own.values()) == pytest.approx(10.0)


def test_cycle_sums_and_overhead_match_positions():
    """Per-layer values sum the per-position medians over one cycle; the
    tracing overhead compares traced and untraced units position by
    position, so a cheap and a dear position never pair up."""

    def unit(lat, traced, pos):
        return workloads.Unit(lat, lat, 1, traced, {"x": lat}, pos=pos)

    units = [unit(1.0, True, 0), unit(3.0, True, 1), unit(1.4, True, 0),
             unit(0.8, False, 0), unit(2.6, False, 1)]
    assert run.per_cycle([u for u in units if u.traced], "x") == pytest.approx(1.2 + 3.0)
    assert run.tracing_overhead(units) == pytest.approx(((1.2 - 0.8) + (3.0 - 2.6)) / 2)


def test_tail_percentile_has_ten_samples_beyond():
    vals = [float(i) for i in range(1, 31)]
    value, pct = run.tail(vals)
    assert sum(v > value for v in vals) == 10 and value == 20.0
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
    # twelve samples: the literal rule would pick the second smallest
    assert run.tail([float(i) for i in range(12)]) == (11.0, 100.0)


# ------------------------------------------------------------ contract

def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
