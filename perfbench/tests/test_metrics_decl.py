import json
import re

from perfbench import metrics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_json_is_generated_from_the_declarations():
    assert metrics.load_benchmark_json() == metrics.benchmark_json()


def test_declarations_fit_the_benchmark_json_limits():
    doc = metrics.benchmark_json()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(doc["workloads"]) <= 8 and 1 <= doc["run_seconds"] <= 60
    names = [w["name"] for w in doc["workloads"]] + [m["name"] for m in doc["end_to_end"] + doc["per_layer"]]
    assert len(names) == len(set(names)) and all(NAME.match(n) for n in names)
    assert all(0 < len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])
    assert all(UNIT.match(m["unit"]) and m["better"] in ("higher", "lower") for m in doc["end_to_end"] + doc["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in doc["end_to_end"])
    setup = [m for m in doc["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in doc["end_to_end"])}]
    assert len(json.dumps(doc)) < 64 * 1024


def test_every_layer_row_names_a_target_metric_and_workload():
    e2e = {n for n, *_ in metrics.END_TO_END}
    workloads = {n for n, _ in metrics.WORKLOADS}
    for name, _, _, moves, on in metrics.PER_LAYER:
        if (moves, on) in metrics.COMPANIONS:
            continue
        assert {m.strip() for m in moves.split(",")} <= e2e, name
        assert {w.strip() for w in on.split(",")} <= workloads, name
