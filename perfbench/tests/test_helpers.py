"""Tests of the benchmark's own helpers (no Spark needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import apiload, golden_check
from perfbench.run import END_TO_END, PER_LAYER, WORKLOADS
from perfbench.stats import (
    Tally,
    clip,
    interval_union,
    percentile,
    reportable,
    samples_beyond,
    valid_name,
    valid_unit,
)
from perfbench.tracing import Span, Tracer, job_cost, self_time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))


# -- percentiles ---------------------------------------------------------------

def test_percentile_nearest_rank():
    xs = list(range(1, 101))            # 1..100
    assert percentile(xs, 50) == 50
    assert percentile(xs, 95) == 95
    assert percentile(xs, 100) == 100
    assert percentile([7.0], 95) == 7.0
    assert percentile([3, 1, 2], 50) == 2


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 0)


def test_ten_samples_beyond_rule():
    # 200 requests leave exactly 10 samples above the p95 rank
    assert samples_beyond(200, 95) == 10
    assert reportable(200, 95)
    assert not reportable(199, 95)
    assert reportable(100, 90) and not reportable(100, 95)
    assert not reportable(19, 50) and reportable(20, 50)


# -- spans -----------------------------------------------------------------------

def _span(i, parent, start, end, name="x"):
    return Span(i, name, 0, parent, "crawl", start, end)


def test_self_time_subtracts_covered_child_time():
    root = _span(1, None, 0.0, 10.0)
    spans = [root,
             _span(2, 1, 1.0, 4.0),
             _span(3, 1, 3.0, 5.0),     # overlaps span 2
             _span(4, 1, 9.0, 12.0),    # runs past the parent's end
             _span(5, 2, 1.5, 2.0)]     # grandchild: not subtracted twice
    # children cover [1, 5] and [9, 10] -> 5 s of 10
    assert self_time(root, spans) == pytest.approx(5.0)
    assert self_time(spans[1], spans) == pytest.approx(2.5)
    assert self_time(spans[4], spans) == pytest.approx(0.5)


def test_interval_helpers():
    assert interval_union([]) == 0.0
    assert interval_union([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert clip([(0, 5), (6, 7)], 1, 6.5) == [(1, 5), (6, 6.5)]


def test_tracer_nesting_and_patch_restore():
    class Box:
        def work(self, x):
            return x * 2

    t = Tracer()
    seen = []
    t.patch(Box, "work", "box.work", after=lambda out, args: seen.append(out))
    with t.span("outer"):
        assert Box().work(21) == 42
    outer, inner = t.spans
    assert (outer.name, inner.name) == ("outer", "box.work")
    assert inner.parent == outer.id and outer.parent is None
    assert seen == [42]
    t.restore()
    assert Box.work.__name__ == "work" and not hasattr(Box.work,
                                                       "__wrapped__")


def test_job_cost_charges_each_stage_once():
    jobs = [{"id": 1, "group": "g1", "stages": [10, 11]},
            {"id": 2, "group": "g2", "stages": [11, 12]},
            {"id": 3, "group": None, "stages": [13]}]
    stages = {10: {"task_s": 1.0, "shuffle_bytes": 5},
              11: {"task_s": 2.0, "shuffle_bytes": 0},
              12: {"task_s": 4.0, "shuffle_bytes": 1},
              13: {"task_s": 8.0, "shuffle_bytes": 0}}
    cost = job_cost(jobs, stages)
    assert cost == {"g1": {"task_s": 3.0, "shuffle_bytes": 5},
                    "g2": {"task_s": 4.0, "shuffle_bytes": 1}}


# -- failure counting ---------------------------------------------------------

def test_tally_counts_failures():
    t = Tally()
    assert t.error_rate == 0.0
    t.record(True)
    t.record(False, "api /x")
    t.record(True)
    t.record(False, "golden")
    assert (t.attempted, t.failed) == (4, 2)
    assert t.error_rate == 0.5
    assert t.reasons == ["api /x", "golden"]


URLS = sorted(f"http://h{h:04d}.example.com/p/{p}"
              for h in range(3) for p in range(30))


def test_check_reply_pages_slice_and_order():
    off = 5
    body = {"status": "success",
            "pages": [{"url": u} for u in URLS[off:off + apiload.PAGE_LIMIT]]}
    assert apiload.check_reply("pages", {"offset": off}, body, URLS)
    shifted = {"status": "success", "pages": body["pages"][1:]
               + [{"url": URLS[off + apiload.PAGE_LIMIT]}]}
    assert not apiload.check_reply("pages", {"offset": off}, shifted, URLS)
    swapped = {"status": "success", "pages": body["pages"][::-1]}
    assert not apiload.check_reply("pages", {"offset": off}, swapped, URLS)


def test_check_reply_search_count_stats():
    hits = [u for u in URLS if "h0001" in u][:apiload.SEARCH_LIMIT]
    ok = {"status": "success", "pages": [{"url": u} for u in hits]}
    assert apiload.check_reply("search", {"query": "h0001"}, ok, URLS)
    wrong = {"status": "success", "pages": [{"url": URLS[0]}]}
    assert not apiload.check_reply("search", {"query": "h0001"}, wrong, URLS)
    n = len(URLS)
    assert apiload.check_reply("count", {}, {"status": "success",
                                             "totalPages": n}, URLS)
    assert not apiload.check_reply("count", {}, {"status": "success",
                                                 "totalPages": n - 1}, URLS)
    stats = {"status": "success", "statistics": {
        "totalPages": n, "totals": {"stored": n}}}
    assert apiload.check_reply("stats", {}, stats, URLS)
    assert not apiload.check_reply("stats", {}, {"status": "error"}, URLS)


def test_request_mix_is_seeded():
    hosts = ["h0000.example.com", "h0001.example.com"]
    a = apiload.request_mix(7, 100, hosts)
    b = apiload.request_mix(7, 100, hosts)
    first = [next(a) for _ in range(40)]
    assert first == [next(b) for _ in range(40)]
    assert {k for k, _, _ in first} == {"pages", "search", "count", "stats"}


# -- golden digest -------------------------------------------------------------

def test_normalize_lineage_keeps_round_zero_and_drops_zero_counts():
    rows = [{"round": 1, "fetched": 3, "deferred": 0},
            {"round": 0, "fetched": 2}]
    assert golden_check.normalize_lineage(rows) == [
        {"fetched": 2, "round": 0}, {"fetched": 3, "round": 1}]


def test_source_closure_covers_golden_imports():
    files = {os.path.relpath(p, ROOT)
             for p in golden_check.source_closure(ROOT)}
    pkg = golden_check.PKG
    assert f"{pkg}/golden.py" in files
    assert f"{pkg}/config.py" in files
    assert f"{pkg}/crawl/synthweb.py" in files
    assert f"{pkg}/crawl/driver.py" not in files


# -- BENCHMARK.json ----------------------------------------------------------

def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_and_units_are_valid():
    for name, unit in {**END_TO_END, **PER_LAYER}.items():
        assert valid_name(name), name
        assert valid_unit(unit), unit
    assert not valid_name(".hidden")
    assert not valid_name("x" * 65)
    assert not valid_name("trailing\n")
    assert not valid_unit("pages per s")


def test_benchmark_json_matches_the_runner():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == PER_LAYER
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
