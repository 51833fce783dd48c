"""BENCHMARK.json names exactly what run.py prints."""

import json
import os

import run


def test_benchmark_json_matches_run():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # run.py also keeps full_load for manual runs; three workloads do not
    # fit the benchmark's time budget on a 4-core host.
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_spec()
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in spec["end_to_end"])
