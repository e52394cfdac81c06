"""BENCHMARK.json, layers.json and the metrics run.py prints agree."""

import json
import os

import run
import workloads

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
LAYERS = json.load(open(os.path.join(HERE, "layers.json")))


def test_end_to_end_metrics_match_output():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == run.END_TO_END_UNITS


def test_per_layer_metrics_match_output():
    printed = dict(workloads.LAYER_UNITS)
    printed.update({f"traced.{k}": u for k, u in run.END_TO_END_UNITS.items()})
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == printed


def test_workloads_exist():
    assert set(LAYERS["workloads"]) == set(workloads.WORKLOADS)
    assert {w["name"] for w in BENCH["workloads"]} == {
        name for name, w in LAYERS["workloads"].items() if w["in_benchmark"]}


def test_layer_map_covers_every_per_layer_metric():
    mapped = [m for layer in LAYERS["layers"].values() for m in layer["metrics"]]
    assert len(mapped) == len(set(mapped))
    assert set(mapped) == {m["name"] for m in BENCH["per_layer"]}
    assert set(LAYERS["end_to_end"]) == set(run.END_TO_END_UNITS)


def test_traffic_dimensions_recorded():
    import gen

    assert LAYERS["traffic"] == json.loads(json.dumps(gen.TRAFFIC))


def test_design_metric_names_printed():
    res = workloads.Result(setup_s=9.0, latencies=[float(x) for x in range(30)], passes=[2.0, 3.0, 4.0],
                           attempted=100, query_latencies=[0.5] * 15, drain_rows_per_s=700.0)
    names = set(LAYERS["design_names"]) - {"about"}
    ingest = run.named_metrics("ingest_stream", res, 2048.0, 0, 100)
    assert set(ingest) == names
    assert ingest["commit_latency_p50_s"] == {"value": 14.5, "unit": "s", "n": 30}
    assert ingest["commit_latency_p90_s"]["value"] is None  # 3 samples beyond p90: unsupported
    assert ingest["commit_latency_p90_s"]["tail_pct"] == 100 * 20 / 30
    mix = run.named_metrics("llm_ops_mix", res, 2048.0, 1, 100)
    assert set(mix) == names - {"commit_latency_p50_s", "commit_latency_p90_s", "drain_rows_per_s"}
    assert mix["failed_share"]["value"] == 0.01
