"""BENCHMARK.json, the layer map and the refusal to run without the
program.  No Spark needed."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from layers import PER_LAYER
from run import END_TO_END

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def test_benchmark_json_matches_the_emitted_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, b) for n, (u, b) in PER_LAYER.items()]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert {w["name"] for w in bench["workloads"]} == {"pipeline_clean", "pipeline_dirty"}


def test_layer_map_places_every_per_layer_metric_once():
    with open(os.path.join(HERE, "layer_map.json")) as fh:
        mapped = [m for row in json.load(fh)["map"] for m in row["layer_metrics"]]
    assert sorted(mapped) == sorted(PER_LAYER)


def test_refuses_to_run_without_the_program(tmp_path):
    bench_only = tmp_path / "checkout"
    (bench_only / "perfbench").mkdir(parents=True)
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench_only / "perfbench" / f).write_text(open(os.path.join(HERE, f)).read())
    (bench_only / "BENCHMARK.json").write_text(open(os.path.join(ROOT, "BENCHMARK.json")).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "pipeline_clean",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bench_only, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=120)
    assert proc.returncode != 0
    assert proc.stdout == ""
