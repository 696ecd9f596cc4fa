"""Benchmark self-tests (no Spark): seeded inputs, percentiles, span
self time, the PIP oracle, and BENCHMARK.json consistency.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re

import numpy as np
import pytest

import harness
import inputs
import run
import spans
import workloads
from conftest import BENCH


# ------------------------------------------------------- seeded inputs


def test_same_seed_same_corpus_and_queries():
    a, b = (inputs.coast_spec(7, inputs.ANNUAL_LAYOUT) for _ in range(2))
    assert a == b
    assert inputs.spec_digest(a, sample=3) == inputs.spec_digest(b, sample=3)
    qa, qb = (inputs.aoi_queries(7, a, 50) for _ in range(2))
    assert [q["kind"] for q in qa] == [q["kind"] for q in qb]
    assert all(np.array_equal(x["shell"], y["shell"]) and x["years"] == y["years"]
               for x, y in zip(qa, qb))


def test_other_seed_changes_corpus_and_queries():
    a = inputs.coast_spec(7, inputs.ANNUAL_LAYOUT)
    b = inputs.coast_spec(8, inputs.ANNUAL_LAYOUT)
    assert inputs.spec_digest(a, sample=3) != inputs.spec_digest(b, sample=3)
    qa, qb = inputs.aoi_queries(7, a, 50), inputs.aoi_queries(8, b, 50)
    assert any(not np.array_equal(x["shell"], y["shell"]) for x, y in zip(qa, qb))


def test_seed_keeps_the_amount_of_work():
    a = inputs.coast_spec(1, inputs.RATES_LAYOUT)
    b = inputs.coast_spec(2, inputs.RATES_LAYOUT)
    assert inputs.n_tiles(a) == inputs.n_tiles(b)
    assert (a.tiles_x, a.tiles_y, a.years) == (b.tiles_x, b.tiles_y, b.years)


def test_every_window_of_five_queries_is_four_shorelines_one_rates():
    spec = inputs.coast_spec(3, inputs.RATES_LAYOUT)
    kinds = [q["kind"] for q in inputs.aoi_queries(3, spec, 100)]
    for i in range(len(kinds) - 4):
        assert kinds[i:i + 5].count("rates") == 1


def test_cache_key_follows_spec_seed_and_sources(monkeypatch):
    spec = inputs.coast_spec(5, inputs.ANNUAL_LAYOUT)
    key = inputs.cache_key("annual", spec, 5)
    assert key == inputs.cache_key("annual", spec, 5)
    assert key != inputs.cache_key("annual", inputs.coast_spec(6, inputs.ANNUAL_LAYOUT), 6)
    monkeypatch.setattr(inputs, "source_hash", lambda: "changed")
    assert key != inputs.cache_key("annual", spec, 5)


def test_cache_builds_once(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "WORK", tmp_path)
    calls = []

    def build(d):
        calls.append(d)
        (d / "table").write_text("x")

    spec = inputs.coast_spec(1, inputs.ANNUAL_LAYOUT)
    d1, s1 = inputs.cached("t", spec, 1, build)
    d2, s2 = inputs.cached("t", spec, 1, build)
    assert d1 == d2 and len(calls) == 1 and s1 == s2
    assert (d1 / "table").read_text() == "x"


# --------------------------------------------------------- percentiles


@pytest.mark.parametrize("n, want", [
    (9, None), (19, None), (20, 50.0), (40, 75.0), (100, 90.0), (199, 90.0),
    (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_has_ten_samples_beyond(n, want):
    assert harness.tail_percentile(n) == want


def test_tail_percentile_count_beyond_is_at_least_ten():
    for n in range(20, 3000, 37):
        p = harness.tail_percentile(n)
        xs = list(range(n))
        beyond = sum(x > harness.percentile(xs, p) for x in xs)
        assert beyond >= 10


def test_percentile_matches_numpy():
    rng = np.random.default_rng(0)
    xs = rng.random(57).tolist()
    for p in (0, 25, 50, 90, 95, 100):
        assert harness.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# ------------------------------------------------------------ self time


def test_self_time_is_duration_minus_child_coverage():
    mk = lambda i, s, e, p: spans.Span(i, f"s{i}", s, e, p, "t")  # noqa: E731
    sp = [mk(1, 0.0, 10.0, None), mk(2, 1.0, 3.0, 1), mk(3, 2.0, 5.0, 1),
          mk(4, 7.0, 8.0, 1), mk(5, 2.5, 4.0, 3)]
    st = spans.self_times(sp)
    assert st[1] == pytest.approx(10.0 - (4.0 + 1.0))   # [1,5] and [7,8]
    assert st[3] == pytest.approx(3.0 - 1.5)
    assert (st[2], st[4], st[5]) == pytest.approx((2.0, 1.0, 1.5))


def test_tracer_nesting_and_roots():
    tr = spans.Tracer()
    with tr.span("workload.w"):
        with tr.span("a"):
            with tr.span("b"):
                pass
    with tr.span("extra.w"):
        with tr.span("a"):
            pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["b"].parent == [s for s in tr.spans if s.name == "a"][0].span_id
    st = spans.self_times(tr.spans)
    for s in tr.spans:
        kids = [(c.start, c.end) for c in tr.spans if c.parent == s.span_id]
        assert st[s.span_id] == pytest.approx(s.duration - spans.covered(kids, s.start, s.end))
    assert set(tr.layer_self_times("extra.w")) == {"extra.w", "a"}
    assert set(tr.layer_self_times("workload.w")) == {"workload.w", "a", "b"}
    assert {r["trace_id"] for r in tr.as_records()} == {tr.trace_id}


def test_disabled_tracer_records_nothing():
    tr = spans.Tracer(enabled=False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# --------------------------------------------------------------- oracles


def test_brute_pip_matches_engine_kernel():
    from dea_coastlines_spark.geometry import algorithms as ga

    spec = inputs.coast_spec(4, inputs.RATES_LAYOUT)
    rng = np.random.default_rng(1)
    for q in inputs.aoi_queries(4, spec, 10):
        shell = q["shell"]
        lo, hi = shell.min(axis=0) - 100, shell.max(axis=0) + 100
        px, py = (rng.uniform(lo[i], hi[i], 500) for i in (0, 1))
        assert np.array_equal(workloads.brute_pip(px, py, shell),
                              ga.points_in_polygon(px, py, shell))


def test_linestring_coords_roundtrip():
    from dea_coastlines_spark.geometry import wkb

    c = np.arange(12, dtype=float).reshape(6, 2)
    assert np.array_equal(workloads.linestring_coords(wkb.linestring(c)), c)


# ------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_names_what_the_runner_reports():
    bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    per_layer = {m["name"] for m in bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]}
    assert set(run.SPAN_METRICS.values()) <= per_layer
    assert {w["name"] for w in bench["workloads"]} == set(workloads.WORKLOADS)
    assert {"setup_s", "cpu_ms_per_item", "peak_rss_mb"} == e2e
    for m in bench["per_layer"] + bench["end_to_end"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
    layers = json.loads((BENCH / "layers.json").read_text())
    mapped = {n for row in layers["layer_to_end_to_end"] for n in row["metrics"]}
    assert mapped == per_layer
    assert set(layers["workloads"]) == set(workloads.WORKLOADS)
