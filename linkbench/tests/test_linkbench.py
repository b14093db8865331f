"""Tests of the benchmark's own code: the F1 arithmetic, span self time
under concurrency, and job attribution on a small recorded event log.

    python3 -m pytest linkbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

from linkbench import eventlog, layers  # noqa: E402
from linkbench.tracing import DESC_KEY, Span, Tracer, exclusive_times, instrumented  # noqa: E402
from linkbench.workloads import pair_f1  # noqa: E402


# ---- F1 ------------------------------------------------------------------------
def test_pair_f1_on_hand_built_pairs():
    clusters = pd.DataFrame({"conv_id": list("abcde"), "cluster_id": ["a", "a", "a", "d", "e"]})
    labels = pd.DataFrame(
        [
            ("a", "b", True),  # same cluster, dup: TP
            ("b", "c", True),  # TP
            ("a", "c", False),  # same cluster, not dup: FP
            ("d", "e", True),  # split: FN
            ("c", "d", False),  # split, not dup: TN
            ("a", "x", True),  # x never clustered: not scored
        ],
        columns=["conv_id_a", "conv_id_b", "is_dup"],
    )
    got = pair_f1(clusters, labels)
    assert (got["tp"], got["fp"], got["fn"]) == (2, 1, 1)
    assert got["f1"] == pytest.approx(2 * 2 / (2 * 2 + 1 + 1))


def test_pair_f1_without_true_positives_is_zero():
    clusters = pd.DataFrame({"conv_id": ["a", "b"], "cluster_id": ["a", "b"]})
    labels = pd.DataFrame([("a", "b", True)], columns=["conv_id_a", "conv_id_b", "is_dup"])
    assert pair_f1(clusters, labels)["f1"] == 0.0


# ---- span self time ----------------------------------------------------------
def _span(i, parent, start, end, layer="state", thread=0):
    return Span(i, layer, f"s{i}", parent, thread, start, end)


def test_self_time_with_overlapping_pool_thread_spans():
    # P runs on the main thread; A and B are concurrent spans in two pool
    # threads; A1 is nested in A.
    spans = [
        _span(1, None, 0, 10, "ingest", 1),
        _span(2, 1, 2, 6, "state", 2),
        _span(3, 2, 3, 5, "state", 2),
        _span(4, 1, 4, 8, "state", 3),
    ]
    got = exclusive_times(spans, 0, 10)
    # 0-2 P | 2-3 A | 3-4 A1 | 4-5 A1,B | 5-6 A,B | 6-8 B | 8-10 P
    assert got == pytest.approx({1: 4.0, 2: 1.5, 3: 1.5, 4: 3.0})
    assert sum(got.values()) == pytest.approx(10.0)


def test_self_time_is_clipped_to_the_window():
    got = exclusive_times([_span(1, None, 0, 10)], 2, 5)
    assert got == pytest.approx({1: 3.0})


class _FakeContext:
    """Per-thread local properties, as Spark keeps them."""

    def __init__(self):
        self._local = threading.local()
        self.seen: list[tuple[str, str | None]] = []

    def getLocalProperty(self, key):
        return getattr(self._local, "props", {}).get(key)

    def setLocalProperty(self, key, value):
        props = self._local.__dict__.setdefault("props", {})
        if value is None:
            props.pop(key, None)
        else:
            props[key] = value

    def job(self, tag):
        self.seen.append((tag, self.getLocalProperty(DESC_KEY)))


def test_pool_threads_inherit_the_submitting_span():
    sc = _FakeContext()
    tracer = Tracer(sc)
    submit = ThreadPoolExecutor.submit
    with instrumented(tracer), tracer.span("ingest", "process_batch") as op:
        with ThreadPoolExecutor(max_workers=2) as pool:
            inherited = pool.submit(sc.job, "inherited")
            own = pool.submit(tracer.wrap(sc.job, "state", "upsert"), "own")
            inherited.result()
            own.result()
        sc.job("main")
    sc.job("after")
    state = next(s for s in tracer.spans if s.layer == "state")
    assert dict(sc.seen) == {
        "inherited": op.description,
        "own": state.description,
        "main": op.description,
        "after": None,
    }
    assert state.parent == op.id and state.thread != op.thread
    assert ThreadPoolExecutor.submit is submit


# ---- job attribution on a recorded event log --------------------------------
@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(HERE, "data", "small_eventlog.json")) as f:
        data = json.load(f)
    log = eventlog.parse(json.dumps(e) for e in data["events"])
    spans = [Span(**s) for s in data["spans"]]
    return data, log, spans, [tuple(data["window"])]


def test_every_job_lands_in_the_layer_of_its_span(recorded):
    data, log, _, windows = recorded
    jobs = eventlog.jobs_in(log, windows)
    got = {str(j.id): (eventlog._key(j.description) or ("unattributed",))[0] for j in jobs}
    assert got == data["expected_layer"]
    # jobs before and after the window are not counted
    assert len(log.jobs) > len(jobs)


def test_layer_stats_count_jobs_tasks_and_shuffle(recorded):
    data, log, _, windows = recorded
    stats = eventlog.layer_stats(log, eventlog.jobs_in(log, windows))
    expected = pd.Series(data["expected_layer"]).value_counts().to_dict()
    assert {k: v["jobs"] for k, v in stats.items()} == expected
    assert stats["assembly"]["shuffle_write_mb"] > 0
    assert all(v["tasks"] > 0 and v["failed_tasks"] == 0 for v in stats.values())
    assert set(stats) - set(layers.LAYERS) == {"unattributed"}


def test_timeline_adds_up_to_the_window(recorded):
    _, log, spans, windows = recorded
    tl = eventlog.timeline(eventlog.jobs_in(log, windows), spans, windows)
    assert tl["wall_s"] == pytest.approx(windows[0][1] - windows[0][0])
    assert sum(tl["busy"].values()) + tl["gap_s"] == pytest.approx(tl["wall_s"])
    assert sum(tl["idle"].values()) == pytest.approx(tl["gap_s"])
    assert {layer for layer, _ in tl["busy"]} == {"ingest", "assembly", "state", "unattributed"}


def test_timeline_shares_concurrent_jobs():
    jobs = [eventlog.Job(1, "lb:state:upsert:2", 0.0, 4.0), eventlog.Job(2, "lb:ingest:process_batch:1", 2.0, 6.0)]
    tl = eventlog.timeline(jobs, [], [(0.0, 8.0)])
    assert tl["busy"] == pytest.approx({("state", "upsert"): 3.0, ("ingest", "process_batch"): 3.0})
    assert tl["gap_s"] == pytest.approx(2.0)


def test_benchmark_json_lists_every_per_layer_metric():
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == layers.PER_LAYER
