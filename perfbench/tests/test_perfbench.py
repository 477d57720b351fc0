"""Self-tests for the benchmark's own helpers; no Spark session needed.

Run from the repository root: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
import types
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import metrics  # noqa: E402
from tracing import Job, OpWindow, Tracer, attribute_jobs  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_p90_needs_a_hundred_samples_for_ten_beyond():
    assert metrics.min_samples(0.9, tail=10) == 100
    assert metrics.min_samples(0.5, tail=10) == 20
    assert metrics.beyond([float(i) for i in range(100)], 0.9) == 10
    assert metrics.beyond([float(i) for i in range(99)], 0.9) < 10


def test_percentile_is_nearest_rank():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert metrics.percentile(values, 0.5) == 3.0
    assert metrics.percentile(values, 0.9) == 5.0
    assert metrics.percentile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        metrics.percentile([], 0.5)


def test_seeded_order_is_deterministic_permutation():
    ops = list(WORKLOADS["queries"].ops)
    a = metrics.seeded_order(ops, 7, 0)
    assert a == metrics.seeded_order(ops, 7, 0)
    assert sorted(a) == sorted(ops)
    assert a != metrics.seeded_order(ops, 8, 0)
    assert a != metrics.seeded_order(ops, 7, 1)


def test_metric_names_and_counts_fit_the_contract():
    metrics.validate_names()
    assert len(metrics.END_TO_END) <= 16
    assert len(metrics.PER_LAYER) <= 128
    for bad in ("", ".x", "a b", "p/90", "x" * 65):
        assert not metrics.NAME_RE.match(bad)
    for good in ("setup_s", "exec.cpu_ms", "stream.batch_p50_ms", "a-b.c_d"):
        assert metrics.NAME_RE.match(good)


def test_every_per_layer_metric_names_what_it_should_move():
    for name, m in metrics.PER_LAYER.items():
        assert m.moves, name


def test_benchmark_json_matches_the_catalog():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    for key, catalog in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        listed = {m["name"]: (m["unit"], m["better"]) for m in spec[key]}
        assert listed == {n: (m.unit, m.better) for n, m in catalog.items()}


def test_jobs_attributed_by_group_then_by_window():
    ops = [OpWindow("op-a", 0, 3), OpWindow("op-b", 3, 6)]
    jobs = [
        Job(0, "op-a", (0, 1)),
        Job(1, "op-a", (2,)),
        Job(2, "stream-run-1", (3,)),  # micro-batch under its query's run id
        Job(3, "op-b", (4,)),
        Job(4, None, (5,)),
        Job(5, "op-a", (6,)),  # late job of op-a, outside its window
        Job(9, None, (9,)),  # the output check: no op
    ]
    got = {g: [j.job_id for j in js] for g, js in attribute_jobs(jobs, ops).items()}
    assert got == {"op-a": [0, 1, 2, 5], "op-b": [3, 4]}


def test_tracer_restores_every_wrapped_function_even_when_install_fails():
    from nyc_yellow_taxi_trip_data_pipeline_spark.operators import serving
    from nyc_yellow_taxi_trip_data_pipeline_spark.plans import analytics
    from nyc_yellow_taxi_trip_data_pipeline_spark.sources import io

    before = (io.read_table, analytics.read_table, serving.predict, serving.preprocess)
    # No Spark session: wrapping succeeds, registering the listener fails.
    with pytest.raises(AttributeError):
        with Tracer(spark=None):
            pass
    assert (io.read_table, analytics.read_table, serving.predict, serving.preprocess) == before


def test_tracer_spans_nest_and_restore():
    module = types.SimpleNamespace(f=lambda x: x + 1)
    original = module.f
    tr = Tracer(spark=None)
    tr._wrap(module, "f", "layer.f")
    with tr.span("op"):
        assert module.f(1) == 2
    tr.__exit__(None, None, None)
    assert module.f is original
    child, parent = tr.spans
    assert (child.name, parent.name) == ("layer.f", "op")
    assert child.parent == parent.span_id
    assert tr.count("layer.f") == 1
    assert tr.total("op") >= tr.total("layer.f")


def test_steal_free_wall_takes_out_the_stolen_share(monkeypatch):
    import run

    # (wall, busy CPU, stolen CPU) readings: 2 s of wall, 3 CPU-s busy, 1 stolen.
    readings = iter([(100.0, 10.0, 5.0), (102.0, 13.0, 6.0), (103.0, 13.0, 6.0)])
    monkeypatch.setattr(run, "stamp", lambda: next(readings))
    monkeypatch.setattr(run, "STEAL_EXPONENT", 1.0)
    t0 = run.stamp()
    assert run.since(t0) == (2.0, 1.5)
    # No CPU counted over the interval: nothing to take out.
    assert run.since((102.0, 13.0, 6.0)) == (1.0, 1.0)
    monkeypatch.setattr(run, "STEAL_EXPONENT", 2.0)
    readings = iter([(100.0, 10.0, 5.0), (102.0, 13.0, 6.0)])
    assert run.since(run.stamp()) == (2.0, 2.0 * 0.75**2)
