import json
import os
import re

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _load(*parts):
    with open(os.path.join(*parts)) as f:
        return json.load(f)


def test_benchmark_json_shape_and_names():
    bench = _load(ROOT, "BENCHMARK.json")
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.fullmatch(m["name"]), m["name"]
        assert UNIT.fullmatch(m["unit"]), m["unit"]
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    assert {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(
        m["bound"] for m in bench["end_to_end"])} in bench["end_to_end"]


def test_frozen_definitions_match_benchmark_json():
    bench = _load(ROOT, "BENCHMARK.json")
    spec = _load(ROOT, "perfbench", "workloads.json")
    assert [w["name"] for w in bench["workloads"]] == list(spec["workloads"])
    for w in bench["workloads"]:
        assert w["why"] == spec["workloads"][w["name"]]["why"]
    assert [m["metric"] for m in spec["layers"]] == [m["name"] for m in bench["per_layer"]]
    layer_names = {m["name"] for m in bench["per_layer"]}
    headliners = spec["workloads"]["headliners_sf0.01"]
    assert len(headliners["queries"]) == 32
    for q in headliners["queries"]:
        assert f"queries.{q}.wall_s" in layer_names
    for q in headliners["detailed_queries"]:
        assert f"queries.{q}.build_s" in layer_names and f"queries.{q}.jobs" in layer_names
