"""Tests of the benchmark's own arithmetic on synthetic inputs; no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import stats
from harness import Bench
from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_is_highest_percentile_with_ten_beyond():
    value, pct, n = stats.tail(range(1, 31))
    assert (value, n) == (20, 30)  # samples 21..30 lie beyond it
    assert pct == pytest.approx(100 * 20 / 30)
    assert stats.tail(range(11))[0] == 0
    with pytest.raises(ValueError):
        stats.tail(range(10))


def test_summarize_reports_tail_only_above_twice_beyond():
    assert "tail" not in stats.summarize(range(20))
    s = stats.summarize([5.0] * 10 + [1.0] * 11)
    assert s["n"] == 21 and s["tail"] >= s["p50"]
    s = stats.summarize(range(100))
    assert (s["p50"], s["tail"], s["tail_pct"]) == (49.5, 89, 90.0)


def test_self_time_subtracts_union_of_children():
    # overlapping children count once; parts outside the span are clipped
    assert stats.self_time(0, 10, [(1, 3), (2, 5), (7, 8)]) == 5
    assert stats.self_time(0, 10, [(-1, 1), (9, 12)]) == 8
    assert stats.self_time(0, 10, [(11, 12)]) == 10
    assert stats.self_time(0, 10, []) == 10


def test_tracer_spans_and_self_time():
    t = Tracer()
    with t.span("off") as sp:
        assert sp is None  # inactive: nothing recorded
    t.active = True
    with t.span("write", op_id=7) as parent:
        with t.span("inner") as child:
            pass
    parent.start, parent.end, child.start, child.end = 0.0, 10.0, 1.0, 3.0
    t.add_derived(parent, "metadata.commit", 2.0, 4.0)
    assert [s.name for s in t.spans] == ["write", "inner", "metadata.commit"]
    assert child.parent == parent.id and child.op_id == 7
    assert t.spans[2].derived and t.spans[2].op_id == 7
    assert t.self_s(parent) == 7.0


def test_write_amp_from_manifest_entries():
    entries = [("APPEND", "ADD", 100), ("APPEND", "ADD", 50),
               ("COMPACT", "ADD", 120), ("COMPACT", "DELETE", 150),
               ("APPEND", "DELETE", 999)]
    assert stats.write_amp(entries) == pytest.approx(270 / 150)
    assert stats.write_amp([("APPEND", "ADD", 10)]) == 1.0
    with pytest.raises(ValueError):
        stats.write_amp([("COMPACT", "ADD", 10)])


def test_space_amp_from_live_sizes():
    assert stats.space_amp([100, 50, 30], [120]) == pytest.approx(1.5)
    with pytest.raises(ValueError):
        stats.space_amp([1], [])


def _bench(trace: bool) -> Bench:
    b = Bench("pk_upsert", seed=1, seconds=15, trace=trace)
    b.session_start_s, b.load_s, b.setup_s = 8.0, 1.5, 12.0
    b.jvm_pid = os.getpid()
    for i in range(6):
        b.samples["commit"].append(0.5 + i / 100)
        b.samples["agg"].append(0.6)
        b.samples["lookup"].append(0.15)
    b.rows["commit"] = 6000
    b.rows["agg"] = 6 * 40_000
    b.rows["lookup"] = 6 * 1024
    b.timed_s, b.tracer.bookkeeping_s = 10.0, 0.25
    return b


def test_emitted_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = _bench(False).result({"write_amp": (1.5, "ratio"),
                                "space_amp": (1.2, "ratio")})
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        {k: v["unit"] for k, v in e2e.items()}
    assert e2e["op_p50_s"]["value"] == pytest.approx(0.525)
    assert e2e["rows_per_s"]["value"] == pytest.approx(6000 / 3.15)
    assert e2e["agg_rows_per_s"]["value"] == pytest.approx(40_000 / 0.6)
    assert e2e["lookup_keys_per_s"]["value"] == pytest.approx(1024 / 0.15)
    layers = _bench(True).result({})
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        {k: v["unit"] for k, v in layers.items()}
    assert layers["trace.overhead_ratio"]["value"] == pytest.approx(0.025)
    assert layers["trace.bookkeeping_s"]["value"] == pytest.approx(0.25)
