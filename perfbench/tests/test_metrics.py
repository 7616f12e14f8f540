import json
import os

import pytest

from perfbench.metrics import Spec, check_name, check_unit, result_line

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def doc():
    return {
        "workloads": [{"name": "w1", "why": "x"}],
        "end_to_end": [
            {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25}
        ],
        "per_layer": [{"name": "spark.jobs", "unit": "count", "better": "lower"}],
    }


@pytest.mark.parametrize(
    "name", ["setup_s", "spark.jobs", "a-b_c.d", "9lives", "x" * 64]
)
def test_valid_names(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "x" * 65, "é", None])
def test_invalid_names(name):
    with pytest.raises(ValueError):
        check_name(name)


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "%", "MiB", "count"])
def test_valid_units(unit):
    assert check_unit(unit) == unit


@pytest.mark.parametrize("unit", ["", "a b", "x" * 17, "s!"])
def test_invalid_units(unit):
    with pytest.raises(ValueError):
        check_unit(unit)


def test_duplicate_names_rejected():
    d = doc()
    d["per_layer"].append({"name": "setup_s", "unit": "s", "better": "lower"})
    with pytest.raises(ValueError):
        Spec(d)


def test_result_line_needs_exactly_the_contract_metrics():
    spec = Spec(doc())
    line = json.loads(result_line(spec, False, {"setup_s": 1.5}, True, 3, 0))
    assert line == {
        "correct": True,
        "attempted": 3,
        "failed": 0,
        "metrics": {"setup_s": {"value": 1.5, "unit": "s"}},
    }
    assert list(line) == ["correct", "attempted", "failed", "metrics"]
    with pytest.raises(ValueError):
        result_line(spec, False, {}, True, 1, 0)
    with pytest.raises(ValueError):
        result_line(spec, False, {"setup_s": 1.0, "extra": 2.0}, True, 1, 0)
    with pytest.raises(ValueError):
        result_line(spec, True, {"setup_s": 1.0}, True, 1, 0)
    assert "spark.jobs" in result_line(spec, True, {"spark.jobs": 3}, True, 1, 0)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), "1", None, True])
def test_result_line_rejects_non_numbers(bad):
    with pytest.raises(ValueError):
        result_line(Spec(doc()), False, {"setup_s": bad}, True, 1, 0)


@pytest.mark.parametrize("attempted,failed", [(0, 0), (2, 3), (2, -1)])
def test_result_line_rejects_bad_counts(attempted, failed):
    with pytest.raises(ValueError):
        result_line(Spec(doc()), False, {"setup_s": 1.0}, True, attempted, failed)


def test_repository_benchmark_file_is_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        d = json.load(fh)
    spec = Spec(d)
    assert set(d) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert "setup_s" in spec.end_to_end and spec.end_to_end["setup_s"] == "s"
    bounds = {m["name"]: m["bound"] for m in d["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    for m in d["end_to_end"] + d["per_layer"]:
        assert m["better"] in ("lower", "higher")
    for w in d["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
