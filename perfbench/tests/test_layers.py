"""The per-layer catalogue, BENCHMARK.json and the trend check agree."""

import json
from pathlib import Path

import layers
from harness import trend

BENCHMARK = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_benchmark_json_lists_the_catalogue():
    assert BENCHMARK["per_layer"] == layers.catalogue()


def test_every_span_maps_to_an_end_to_end_metric():
    named = {"setup_s", "iter_cpu_s", "verify_rows_per_s", "diff_rows_per_s", *layers.DAILY_PHASES}
    for span, (metric, workload, _) in layers.SPANS.items():
        assert metric in named, span
        assert workload in {"all", "full-verify", "migration-diff", "daily-ingest"}, span
    for phase_spans in layers.DAILY_PHASES.values():
        assert set(phase_spans) <= set(layers.SPANS)


def test_traced_result_reports_every_metric_with_zero_for_unused_spans():
    totals = {"runner.run_suite": {"wall_s": 2.0, "jobs": 3, "run_ms": 4000, "cpu_ns": 3e9, "spill_bytes": 2**20}}
    out = layers.per_layer_metrics(totals, {"trace.overhead_frac": 0.05}, cores=4)
    assert list(out) == [m["name"] for m in layers.catalogue()]
    assert out["runner.run_suite.slot_util"]["value"] == 0.5
    assert out["runner.run_suite.cpu_s"]["value"] == 3.0
    assert out["runner.run_suite.spill_mb"]["value"] == 1.0
    assert out["dedup.compact_index.wall_s"]["value"] == 0.0
    assert out["daily.rescan_ratio"]["value"] == 0.0


def test_trend_flags_steady_growth_not_one_outlier():
    assert trend([19.3, 21.7, 23.0, 25.0]) > 0.15
    assert abs(trend([16.5, 16.4, 25.0, 16.6, 16.5])) < 0.05
    assert trend([5.0, 5.1]) == 0.0
