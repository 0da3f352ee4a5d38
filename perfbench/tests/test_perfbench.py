"""Tests of the benchmark's own logic: seeded inputs, the arithmetic behind
the reported numbers, and the correctness checks. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen, oracles, report  # noqa: E402
from perfbench.trace import Span, covered, median, self_times  # noqa: E402


# -- generator --------------------------------------------------------------
def _draw(seed: int):
    feed = gen.ListingFeed(seed, per_provider=30)
    syncs = [feed.sync(i) for i in range(6)]
    corpus = gen.Corpus(seed, n_docs=20)
    edits = [corpus.edit(3) for _ in range(3)]
    requests = gen.rag_requests(seed, 3, 5)
    return (feed.initial_rows(), syncs, corpus.docs, edits, [next(requests) for _ in range(7)])


def test_same_seed_same_inputs():
    assert _draw(7) == _draw(7)


def test_other_seed_other_inputs():
    a, b = _draw(7), _draw(8)
    assert all(x != y for x, y in zip(a[:-1], b[:-1]))


def test_sync_change_mix():
    feed = gen.ListingFeed(3, per_provider=400)
    before = {r["external_id"]: dict(r) for p, r in feed.initial_rows() if p == gen.PROVIDERS[0]}
    provider, rows = feed.sync(0)
    after = {r["external_id"]: r for r in rows}
    assert provider == gen.PROVIDERS[0]
    unchanged = sum(1 for k, r in after.items() if before.get(k) == r)
    assert 0.8 * len(before) < unchanged < len(before)
    assert set(after) - set(before), "new listings"
    assert set(before) - set(after), "removed listings"


def test_rag_rhythm():
    requests = gen.rag_requests(1, 3, 5)
    kinds = [next(requests)[0] for _ in range(6)]
    assert kinds == ["upsert", "query", "query", "upsert", "query", "query"]


def test_points_are_urban_skewed():
    rng = gen._rng(5, "skew")
    pts = [gen.point(rng) for _ in range(4000)]
    near_sj = sum(1 for lat, lon in pts if abs(lat - 9.93) < 0.1 and abs(lon + 84.08) < 0.1)
    assert near_sj > 0.3 * len(pts)


# -- arithmetic -------------------------------------------------------------
def test_median():
    assert median([3.0]) == 3.0
    assert median([5.0, 1.0, 3.0]) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, []) == 0
    assert covered(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5  # [1,5] + [7,8]
    assert covered(2, 6, [(0, 3), (5, 9)]) == 2  # clipped to [2,3] + [5,6]


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0, op=0),
        Span("merge", 1.0, 4.0, parent=0, op=0),
        Span("child", 2.0, 3.0, parent=1, op=0),
        Span("gate", 3.5, 6.0, parent=0, op=0),  # overlaps merge by 0.5
    ]
    assert self_times(spans) == pytest.approx([10 - 5.0, 3 - 1.0, 1.0, 2.5])


def test_per_layer_aggregates_traced_ops_only():
    spans = [
        Span("op", 0.0, 4.0, op=0),
        Span("merge", 1.0, 3.0, parent=0, op=0,
             counts={"bytes": 300, "source_bytes": 100, "rows_written": 50, "changed": 5,
                     "conflicts": 0, "jobs": 4, "tasks": 9, "stages": 4, "failed_tasks": 0}),
        Span("op", 10.0, 13.0, op=1),
        Span("merge", 10.0, 11.0, parent=2, op=1,
             counts={"bytes": 100, "source_bytes": 100, "rows_written": 50, "changed": 5,
                     "conflicts": 0, "jobs": 2, "tasks": 3, "stages": 2, "failed_tasks": 0}),
        Span("staging.read", 11.0, 11.5, parent=2, op=1, counts={"rows": 7}),
    ]
    ops = [
        {"i": 0, "dt": 4.0, "traced": True, "jvm_cpu": 8.0, "py_cpu": 0.5},
        {"i": 1, "dt": 3.0, "traced": True, "jvm_cpu": 6.0, "py_cpu": 0.3},
        {"i": 2, "dt": 2.0, "traced": False},
    ]
    shared, info = report.per_layer(spans, ops, 0.2, nproc=4)
    assert shared["merge.self_s"] == pytest.approx(1.5)  # median of 2.0 and 1.0
    assert shared["merge.write_amp"] == pytest.approx(400 / 200)
    assert shared["merge.rows_rewritten_per_changed"] == pytest.approx(10.0)
    assert shared["spark.jobs_per_op"] == 3
    assert shared["jvm.cpu_util"] == pytest.approx(14.0 / (7.0 * 4))
    assert shared["trace.overhead_ratio"] == pytest.approx(3.5 / 2.0)
    assert shared["session.start_s"] == pytest.approx(0.2)
    assert set(shared) == set(report.SHARED_LAYER)
    assert info["layers"] == {"staging.read_s": pytest.approx(0.5), "staging.rows": 7}


# -- correctness checks -----------------------------------------------------
def test_merge_model_counters_and_digest():
    m = oracles.MergeModel()
    assert m.merge("a", {"1": ("h1", 10), "2": ("h2", 10)}) == {
        "inserted": 2, "updated": 0, "unchanged": 0, "soft_deleted": 0}
    m.merge("b", {"9": ("h9", 10)})
    before = m.digest()
    # "2" vanished from a's fetch, "1" changed, "3" is new; b's row is kept
    assert m.merge("a", {"1": ("h1x", 20), "3": ("h3", 20)}) == {
        "inserted": 1, "updated": 1, "unchanged": 1, "soft_deleted": 1}
    assert m.rows[("a", "2")][1] == oracles.DELETED
    assert m.digest() != before
    # a soft-deleted row that comes back is an update, not an insert
    assert m.merge("a", {"1": ("h1x", 20), "2": ("h2", 30), "3": ("h3", 20)}) == {
        "inserted": 0, "updated": 1, "unchanged": 3, "soft_deleted": 0}


def test_merge_model_gate_tolerance():
    m = oracles.MergeModel()
    m.merge("a", {"1": ("h", 1000), "2": ("h", 1000)})
    passed = m.gate_passes("a", {"1": 1060, "2": 1061, "new": 5})
    assert passed == {"2", "new"}


def test_digest_flags_a_corrupted_row():
    m = oracles.MergeModel()
    m.merge("a", {"1": ("h1", 10), "2": ("h2", 10)})
    good = m.digest()
    m.rows[("a", "2")][0] = "tampered"
    assert m.digest() != good


def test_rag_check_flags_corrupted_retrieval():
    pytest.importorskip("pyspark")
    from perfbench.workloads import RagQuery

    wl = RagQuery.__new__(RagQuery)  # check() needs no Spark for a query
    wl.duck = duckdb.connect()
    corpus = gen.Corpus(4, n_docs=30)
    wl.model = {d: corpus.text(d) for d in corpus.docs}
    good = oracles.rag_oracle(wl.duck, wl.model, 5)
    assert good and wl.check(("query", 5, None), good) == (5, [])
    bad = list(good)
    bad[3] = bad[3][:3] + (bad[3][3] + 1,) + bad[3][4:]  # one rrf score off by one
    assert wl.check(("query", 5, None), bad)[1]
