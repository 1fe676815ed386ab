"""Traced-run output: spans nest, every span has a parent or is a root,
and the self times of one op sum to its wall."""

import itertools
import json
import os
import subprocess
import sys

import pytest

from spans import Tracer, check_spans, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(os.path.dirname(HERE), "run.py")


def fake_clock():
    ticks = itertools.count()
    return lambda: float(next(ticks))


def traced_calls(tracer):
    inner = tracer.wrap(lambda: None, "inner", "serve")
    outer = tracer.wrap(lambda: (inner(), inner()), "outer", "job")
    tracer.enabled = True
    for _ in range(2):
        with tracer.op("op"):
            outer()
            inner()
    return tracer.to_json()


def test_wrapped_calls_nest_and_self_times_sum_to_the_wall():
    spans = traced_calls(Tracer(clock=fake_clock()))
    assert check_spans(spans) == []
    assert [s["name"] for s in spans if s["op"] == 1] == ["op", "outer", "inner", "inner", "inner"]
    selfs = self_times(spans)
    for op in (1, 2):
        root = next(s for s in spans if s["op"] == op and s["parent"] is None)
        assert sum(selfs[s["id"]] for s in spans if s["op"] == op) == root["end"] - root["start"]


def test_disabled_tracer_records_nothing():
    t = Tracer(clock=fake_clock())
    f = t.wrap(lambda x: x + 1, "f", "job")
    with t.op("op"):
        assert f(1) == 2
    assert t.spans == []


def test_wrapped_call_outside_an_op_records_nothing():
    t = Tracer(clock=fake_clock())
    f = t.wrap(lambda x: x + 1, "f", "mview")
    t.enabled = True
    assert f(1) == 2
    with t.op("op"):
        f(1)
    assert [s.name for s in t.spans] == ["op", "f"]


@pytest.mark.parametrize("corrupt, message", [
    (lambda s: s[2].update(parent=99), "has no parent"),
    (lambda s: s[2].update(end=s[0]["end"] + 5), "outside parent"),
    (lambda s: s[0].update(parent=1), "no root span"),
])
def test_malformed_spans_are_reported(corrupt, message):
    spans = traced_calls(Tracer(clock=fake_clock()))
    corrupt(spans)
    assert any(message in p for p in check_spans(spans))


def test_traced_lake_run_writes_well_formed_spans(tmp_path):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", "lake_commits", "--seed", "3", "--seconds", "1", "--trace", "1"],
        cwd=tmp_path, stdout=subprocess.PIPE, text=True, timeout=600,
    )
    assert p.returncode == 0
    result = json.loads(p.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert "trace.overhead_frac" in result["metrics"]
    with open(tmp_path / ".perfbench" / "trace-lake_commits-3.json") as f:
        out = json.load(f)
    spans = out["spans"]
    assert spans and out["problems"] == [] and check_spans(spans) == []
    layers = {s["layer"] for s in spans}
    assert {"bench", "plans", "mtable", "mview", "spark"} <= layers
    assert any(s["jobs"] for s in spans)
