import json
import os

import pytest

from perfbench import metrics
from perfbench.run import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_metric_tables():
    spec = benchmark_json()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert spec == metrics.benchmark_spec(WORKLOADS, spec["run_seconds"])


@pytest.mark.parametrize("trace", [False, True])
def test_every_printed_name_is_in_benchmark_json_with_its_unit(trace):
    spec = benchmark_json()
    listed = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    names = metrics.PER_LAYER if trace else metrics.END_TO_END
    printed = metrics.emit({k: 1.0 for k in names}, trace=trace)
    assert {k: v["unit"] for k, v in printed.items()} == listed


def test_emit_rejects_unknown_and_missing_names():
    with pytest.raises(KeyError):
        metrics.emit({"nope": 1.0}, trace=True)
    with pytest.raises(KeyError):
        metrics.emit({"setup_s": 1.0}, trace=False)


def test_traced_metrics_of_unused_layers_read_zero():
    out = metrics.emit({"session.get_spark_s": 2.5}, trace=True)
    assert out["session.get_spark_s"]["value"] == 2.5
    assert out["ingest.bronze_s"]["value"] == 0.0
