"""BENCHMARK.json schema, metric-name grammar, and its agreement with
spec.json and digests.json."""

from __future__ import annotations

import json
import os
import re

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(BENCH_DIR, "spec.json")) as f:
        return json.load(f)


def test_top_level_schema(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def test_command_and_paths(bench):
    cmd, paths = bench["command"], bench["paths"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(a, str) and len(a) <= 200 for a in cmd)
    assert 1 <= len(paths) <= 16
    for p in paths:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        assert os.path.isdir(os.path.join(ROOT, p))
    for arg in cmd[1:]:
        if "/" in arg or os.path.exists(os.path.join(ROOT, arg)):
            assert not arg.startswith("/") and ".." not in arg.split("/")
            assert any(arg == p or arg.startswith(p.rstrip("/") + "/") for p in paths)


def test_workloads(bench):
    ws = bench["workloads"]
    assert 2 <= len(ws) <= 8
    for w in ws:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"])
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]


def test_metrics_grammar(bench):
    e2e, layer = bench["end_to_end"], bench["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + layer:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("lower", "higher")
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)


def test_spec_agrees_with_benchmark(bench, spec):
    # BENCHMARK.json lists the workloads; spec.json holds their settings
    assert ({w["name"] for w in bench["workloads"]}
            == set(spec["workloads"]))
    for w in spec["workloads"].values():
        assert set(w) == {"why", "op_tail_pct", "min_passes"}
    assert [m["name"] for m in bench["per_layer"]] == list(spec["layer_map"])
    for m in spec["layer_map"].values():
        assert set(m) == {"moves", "where"}
    assert set(spec["layers"]) == {n.split(".")[0] for n in spec["layer_map"]} - {"trace"}


def test_mix_is_pinned(spec):
    with open(os.path.join(BENCH_DIR, "digests.json")) as f:
        pins = json.load(f)
    assert set(pins["digests"]) == set(spec["mix"])
    assert pins["scale_factor"] == spec["scale_factor"]
    assert not set(spec["mix"]) & set(spec["mix_dropped"])
