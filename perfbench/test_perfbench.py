"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
from measure import EventLog, Job, Span  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def _spans() -> list[Span]:
    spans = []
    for p in range(3):
        t = 100.0 * p
        for i, name in enumerate(run.LAYER_SPANS):
            sp = Span(name, t + i, t + i + 0.5 + 0.1 * p, p, cpu_s=1.0 + p, cached_left=p,
                      gc_s=0.01)
            sp.attrs = {"jobs": 2, "driver_gap_s": 0.1, "shuffle_write_mb": 1.0,
                        "spill_mb": 0.0, "input_mb": 1.0, "output_mb": 0.5}
            spans.append(sp)
    return spans


def test_end_to_end_names_and_units_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert spec == run.END_TO_END
    values = run.end_to_end_metrics(_spans(), 12.0, 900.0, 120.0)
    assert set(values) == set(spec)
    assert values["setup_s"] == 12.0
    n = len(run.LAYER_SPANS)
    assert values["first_pass_s"] == pytest.approx(0.5 * n)
    # warm passes 1 and 2 take 0.6 and 0.7 per call
    assert values["pass_s"] == pytest.approx(0.65 * n)
    assert values["pass_cpu_s"] == pytest.approx(2.5 * n)
    assert all(v > 0 for v in values.values())


def test_per_layer_names_and_units_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == run.per_layer_units()
    progress = {1: [{"numInputRows": 5, "durationMs": {"triggerExecution": 800,
                                                      "addBatch": 500},
                     "stateOperators": [{"commitTimeMs": 40, "numRowsTotal": 7,
                                         "memoryUsedBytes": 2**20}]},
                    {"numInputRows": 0, "durationMs": {"triggerExecution": 5},
                     "stateOperators": []}]}
    extra = {"python.worker_cpu_s": 3.0, "session.start_s": 9.0, "jvm.heap_live_mb": 100.0}
    values = run.per_layer_metrics(_spans(), progress, extra)
    assert set(values) == set(spec)
    n = len(run.LAYER_SPANS)
    assert values["streaming.batch_p50_s"] == 0.8
    assert values["streaming.state_mem_mb"] == 1.0
    assert values["plans.run_transformation.cached_left"] == 1.5
    assert values["trace.pass_s"] == pytest.approx(0.65 * n)
    assert values["sources.output_mb"] == pytest.approx(0.5 * n)
    assert values["jvm.gc_s"] == pytest.approx(0.01 * n)


def test_benchmark_json_shape():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", run.WORKLOAD_NAMES)
def test_same_seed_same_inputs(tmp_path, workload):
    a = inputs.generate(workload, 7, str(tmp_path / "a"))
    b = inputs.generate(workload, 7, str(tmp_path / "b"))
    c = inputs.generate(workload, 8, str(tmp_path / "c"))
    assert a["digests"] == b["digests"] and a["rows"] == b["rows"]
    assert a["expect"] == b["expect"]
    assert a["digests"] != c["digests"]
    if workload == "cdm_etl":
        # no hot person: history depth is bounded
        assert a["shape"]["top_person_fact_share"] < 4 / inputs.PERSONS


def test_covered_merges_and_clips_intervals():
    assert measure.covered_s([], 0, 10) == 0
    assert measure.covered_s([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert measure.covered_s([(-5, 2), (9, 20)], 0, 10) == 3
    assert measure.covered_s([(11, 12)], 0, 10) == 0


def test_attribute_driver_gap_jobs_and_bytes():
    spans = [Span("x", 10.0, 20.0, 1), Span("y", 20.5, 22.0, 1)]
    log = EventLog(
        jobs=[Job(0, 11.0, 13.0, [0]), Job(1, 12.0, 14.0, [1]), Job(2, 18.0, 21.0, [2]),
              Job(3, 21.0, 21.5, [2, 3]), Job(4, 30.0, 31.0, [4])],
        stage_bytes={0: {"shuffle_write": 2**20, "spill": 0, "input": 0, "output": 0},
                     2: {"shuffle_write": 2**21, "spill": 2**20, "input": 0, "output": 0},
                     3: {"shuffle_write": 0, "spill": 0, "input": 3 * 2**20, "output": 0}},
    )
    measure.attribute(spans, log)
    x, y = spans
    # x holds jobs 0-2 (submitted inside it); they cover [11, 14] and [18, 20]
    assert x.attrs["jobs"] == 3
    assert x.attrs["driver_gap_s"] == pytest.approx(10 - 5)
    assert x.attrs["shuffle_write_mb"] == pytest.approx(3.0)
    assert x.attrs["spill_mb"] == pytest.approx(1.0)
    # y holds job 3 only; job 2's tail also overlaps y but belongs to x,
    # and so does stage 2, which job 3 reuses
    assert y.attrs["jobs"] == 1
    assert y.attrs["shuffle_write_mb"] == 0
    assert y.attrs["driver_gap_s"] == pytest.approx(1.5 - 0.5)
    assert y.attrs["input_mb"] == pytest.approx(3.0)
