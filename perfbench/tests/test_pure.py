"""Tests of the benchmark's own pure pieces; no Spark session needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import eventlog
from perfbench.host import steal_share
from perfbench.stats import percentile, tail_percentile, valid_metric_name
from perfbench.trace import Span, Tracer, covered, self_time, write_layer

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixtures", "eventlog_tiny.jsonl")


# ---- the "highest percentile with >= 10 samples beyond it" rule ----

@pytest.mark.parametrize("n, want", [
    (200, 95), (100, 90), (1000, 99), (40, 75), (20, 50), (11, 9), (10, None), (0, None),
])
def test_tail_percentile(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_is_highest_with_ten_beyond():
    for n in range(11, 400):
        p = tail_percentile(n)
        assert n - math.ceil(p / 100 * n) >= 10, n
        if p < 99:
            assert n - math.ceil((p + 1) / 100 * n) < 10, n


def test_percentile_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(values, 50) == 3.0
    assert percentile(values, 100) == 5.0
    assert percentile(values, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


# ---- self time with nested and overlapping children ----

def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_self_time_counts_overlap_and_nesting_once():
    parent = _span(0, 0.0, 10.0)
    children = [
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),   # overlaps span 1
        _span(3, 6.0, 7.0, 0),
        _span(4, 6.2, 6.5, 3),   # nested inside span 3
        _span(5, 9.0, 12.0, 0),  # runs past the parent's end
    ]
    # covered: [1,5] + [6,7] + [9,10] = 6
    assert self_time(parent, children) == pytest.approx(4.0)


def test_self_time_without_children_is_duration():
    assert self_time(_span(0, 2.0, 5.5), []) == pytest.approx(3.5)


def test_covered_ignores_intervals_outside():
    assert covered([(-3.0, -1.0), (11.0, 12.0)], 0.0, 10.0) == 0.0
    assert covered([(0.0, 10.0), (2.0, 3.0)], 0.0, 10.0) == pytest.approx(10.0)


def test_tracer_records_parents_and_descendants():
    tr = Tracer("r")
    with tr.span("cycle") as cycle:
        with tr.span("fetch") as fetch:
            with tr.span("store.read") as read:
                pass
        with tr.span("parse_text"):
            pass
    assert fetch.parent == cycle.id and read.parent == fetch.id
    assert [s.name for s in tr.children(cycle)] == ["fetch", "parse_text"]
    assert {s.name for s in tr.descendants(cycle)} == {"fetch", "store.read", "parse_text"}
    assert all(s.run == "r" and s.end >= s.start for s in tr.spans)


# ---- write spans are named after the stage that owns the table ----

class _Store:
    def __init__(self, cycles):
        self._m = {"cycles": cycles}

    def read_manifest(self):
        return self._m


def test_write_layer_names_frontier_writes_by_stage():
    fresh = _Store({})
    assert write_layer(fresh, "fetchlist") == "generate"
    assert write_layer(fresh, "frontier") == "mark_generated"
    parsed = _Store({"seg0000": {s: {"done": True} for s in ("generate", "fetch", "parse")}})
    assert write_layer(parsed, "frontier") == "updatedb"
    assert write_layer(parsed, "parse_data") == "parse_data"
    done = _Store({"seg0000": {s: {"done": True}
                               for s in ("generate", "fetch", "parse", "updatedb")}})
    assert write_layer(done, "frontier") == "mark_generated"


# ---- event-log parsing ----

def test_event_log_fixture():
    log = eventlog.read(FIXTURE)
    assert [j.group for j in log.jobs] == [None, "fetch", "parse_data", "updatedb"]
    assert len(log.tasks) == 9
    everything = [(0.0, 10.0)]

    fetch = eventlog.group_stats(log, {"fetch"}, everything)
    # heaviest stage of the group is stage 2: tasks of 100, 200, 500 ms
    assert fetch.task_skew == pytest.approx(500 / 200)
    assert fetch.python_s == pytest.approx(0.170)
    assert fetch.gc_s == pytest.approx(0.005)

    parse = eventlog.group_stats(log, {"parse_text", "parse_data"}, everything)
    assert parse.python_mb_in == pytest.approx(3.0)
    assert parse.python_mb_out == pytest.approx(0.5)

    upd = eventlog.group_stats(log, {"updatedb"}, everything)
    assert upd.gc_s == pytest.approx(1.0)
    assert upd.spill_mb == pytest.approx(3.0)
    assert upd.shuffle_write_mb == pytest.approx(2.0)

    assert eventlog.group_stats(log, {"nothing"}, everything) == eventlog.GroupStats()
    assert eventlog.window_counts(log, everything) == (4, 9)
    assert eventlog.window_counts(log, [(1.5, 3.5)]) == (2, 6)
    # only work started inside the timed windows counts: the updatedb
    # tasks launched at 4 s, not the fetch tasks launched before 3.5 s
    late = eventlog.group_stats(log, {"fetch", "updatedb"}, [(3.5, 4.5)])
    assert late.gc_s == pytest.approx(upd.gc_s)
    assert eventlog.group_stats(log, {"fetch"}, [(3.5, 4.5)]) == eventlog.GroupStats()


# ---- the request mix ----

def test_query_round_sends_every_kind_once():
    from perfbench.workloads import QUERY_KINDS, query_round

    for i in range(4):
        kinds = query_round(i)
        assert len(kinds) == len(QUERY_KINDS) == len(set(kinds))
        assert {k for k in kinds if not k.startswith("url")} == set(QUERY_KINDS) - {"url"}
    assert [k for i in range(4) for k in query_round(i) if k.startswith("url")] == [
        "url_known", "url_unknown", "url_known", "url_unknown"]


# ---- metric names ----

@pytest.mark.parametrize("name", ["setup_s", "crawl.self_s", "hostdb.ms", "p-95", "9x"])
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "µs", "x" * 65, "a:b"])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)


def test_benchmark_json_names_are_valid_and_unique():
    with open(os.path.join(HERE, "..", "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_steal_share():
    before = [100, 0, 50, 800, 0, 0, 0, 10]
    after = [200, 0, 100, 1600, 0, 0, 0, 60]
    assert steal_share(before, after) == pytest.approx(50 / 1000)
    assert steal_share(before, before) == 0.0
