"""BENCHMARK.json agrees with what run.py prints."""

import json
import os
import re

import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_contract_keys_and_names():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]] + [
        m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_every_metric_is_printed_with_its_unit():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.LAYER_METRICS


def test_workloads_exist():
    import workloads

    for w in _bench()["workloads"]:
        assert w["name"] in workloads.WORKLOADS
        assert w["name"] in run.SIZES


def test_notes_match_the_code():
    import gen

    with open(os.path.join(ROOT, "perfbench", "NOTES.json")) as f:
        notes = json.load(f)
    b = _bench()
    listed = {w["name"] for w in b["workloads"]}
    assert set(notes["inputs"]) == listed
    for name, p in notes["inputs"].items():
        assert p == gen.params(run.SIZES[name])
    metrics = {m["name"] for m in b["per_layer"]}
    targets = {m["name"] for m in b["end_to_end"]}
    for pred in notes["predictions"]:
        assert pred["layer_metric"] in metrics
        assert pred["moves"] in targets
        assert pred["on"] in listed
        assert all(w in listed for w in pred.get("no_change_on", []))
