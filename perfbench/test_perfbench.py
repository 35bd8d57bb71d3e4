"""The benchmark's own tests; no Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pytest

from perfbench import gen, run
from perfbench.layers import LAYER_MAP, SELF_TIME_LAYERS
from perfbench.trace import Span, Tracer, self_times
from perfbench.workloads import CATALOG_QUERIES, OpResult

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMALL = gen.TickSpec("small", 2, datetime(2024, 1, 1, 23, tzinfo=timezone.utc), 2, 300, 600)


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(d, n)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_same_seed_gives_identical_files(tmp_path):
    a = gen.write_tick_archive(1, SMALL, str(tmp_path / "a"))
    b = gen.write_tick_archive(1, SMALL, str(tmp_path / "b"))
    assert a == b
    files = _files(str(tmp_path / "a"))
    assert len(files) == SMALL.n_tickers * SMALL.hours
    assert files == _files(str(tmp_path / "b"))


def test_other_seed_gives_other_files(tmp_path):
    gen.write_tick_archive(1, SMALL, str(tmp_path / "a"))
    gen.write_tick_archive(2, SMALL, str(tmp_path / "b"))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_self_time_subtracts_union_of_clipped_children():
    spans = [
        Span(0, "op.q", 0.0, 10.0, None, 7),
        Span(1, "bi5_codec.decode", 1.0, 4.0, 0, 7),
        Span(2, "spark.collect", 3.0, 6.0, 0, 7),  # overlaps its sibling
        Span(3, "bi5_codec.arrow", 2.0, 3.0, 1, 7),
        Span(4, "ohlc.bars", 9.0, 12.0, 0, 7),  # runs past its parent
    ]
    got = self_times(spans)
    # op: 10 - union(1..6, 9..10) = 10 - 6
    assert got[(7, "op")] == pytest.approx(4.0)
    # decode 3 - arrow 1, plus arrow's own 1
    assert got[(7, "bi5_codec")] == pytest.approx(3.0)
    assert got[(7, "spark")] == pytest.approx(3.0)
    assert got[(7, "ohlc")] == pytest.approx(3.0)


def test_tracer_nests_spans_and_sums_counts():
    tr = Tracer(enabled=True)
    with tr.span("op.q", 1):
        with tr.span("plans.build", 1):
            pass
    tr.count(1, "spark.jobs", 2)
    tr.count(1, "spark.jobs", 1)
    assert [s.parent for s in tr.spans] == [None, 0]
    assert tr.counts[1]["spark.jobs"] == 3
    off = Tracer(enabled=False)
    with off.span("op.q", 1):
        off.count(1, "spark.jobs", 1)
    assert off.spans == [] and not off.counts


def _spec() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_end_to_end_names_match_benchmark_json():
    ops = [OpResult("query", "q", 0.5, True, rows=10), OpResult("write", "w", 0.7, True, rows=5, bytes=40)]
    metrics = run.end_to_end(ops, {"q": 1, "w": 1}, 12.0, 900.0)
    spec = _spec()["end_to_end"]
    assert sorted(metrics) == sorted(m["name"] for m in spec)
    assert all(metrics[m["name"]][1] == m["unit"] for m in spec)
    line = json.loads(run.result_line(True, 2, 0, metrics, [m["name"] for m in spec]))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}


def test_per_layer_names_match_benchmark_json():
    tr = Tracer(enabled=True)
    with tr.span("op.q", 0):
        pass
    metrics = run.per_layer(tr, [0], {"build": 1.0, "register": 1.0}, 0.5)
    spec = _spec()["per_layer"]
    assert sorted(metrics) == sorted(m["name"] for m in spec)
    assert all(metrics[m["name"]][1] == m["unit"] for m in spec)


def test_layer_map_names_only_reported_metrics():
    names = {m["name"] for m in _spec()["per_layer"]}
    e2e = {m["name"] for m in _spec()["end_to_end"]}
    workloads = {w["name"] for w in _spec()["workloads"]}
    for layer in LAYER_MAP.values():
        for metric in layer["metrics"]:
            if metric == "plans.<query>.exec_ms":
                assert {f"plans.{q}.exec_ms" for q in CATALOG_QUERIES} <= names
            else:
                assert metric in names
        assert set(layer["moves"]) <= workloads
        for target in layer["moves"].values():
            gated = target.split(";")[0].split(", ")
            assert target == "nothing" or set(gated) <= e2e
    assert {f"{layer}.self_ms" for layer in SELF_TIME_LAYERS} <= names


def test_end_to_end_weighs_each_query_type_alike():
    ops = [
        OpResult("query", "a", 0.1, True),
        OpResult("query", "a", 0.3, True),
        OpResult("query", "a", 0.1, True),
        OpResult("query", "b", 0.4, True),
        OpResult("write", "w", 1.0, True),
    ]
    metrics = run.end_to_end(ops, {"a": 2, "b": 1, "w": 1}, 1.0, 1.0)
    # medians a 0.1 s, b 0.4 s: geometric mean 0.2 s
    assert metrics["query_p50_ms"][0] == pytest.approx(200.0)
    # a round of 2 a + 1 b + 1 w at the medians takes 1.6 s
    assert metrics["ops_per_s"][0] == pytest.approx(4 / 1.6)
