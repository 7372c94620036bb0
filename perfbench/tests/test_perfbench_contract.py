"""BENCHMARK.json names exactly what run.py reports."""

import json
import os

import run
from workloads import WORKLOADS

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")


def test_metric_and_workload_names_match():
    with open(BENCH) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert any(m["name"] == "setup_s" and m["bound"] == max(
        x["bound"] for x in bench["end_to_end"]) for m in bench["end_to_end"])


def test_missing_package_exits_nonzero(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    code = run.main(["--workload", "pipelines", "--seed", "1",
                     "--seconds", "1", "--trace", "0"])
    assert code != 0
    assert capsys.readouterr().out == ""
