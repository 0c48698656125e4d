"""Per-layer metric catalogue and the layer -> end-to-end metric map.

A span is the benchmark's serial call into one public function. Every
span reports wall, executor CPU, slot utilization and job count; some
add event-log extras. Each entry names the metric it should move and on
which workload: ``setup_s`` or a view of one timed iteration, whose CPU
(``iter_cpu_s``) is the end-to-end figure and whose wall time is printed
as ``diff_rows_per_s`` (input rows divided by the wall median) on
migration-diff and as the phases ``daily_check_s``, ``ingest_s`` and
``compact_s`` on daily-ingest. On full-verify, run by hand, the suite
layers move ``verify_rows_per_s``. A traced run reports every metric
here; a span its workload never calls reads 0.
"""

from __future__ import annotations

CORE = ("wall_s", "cpu_s", "slot_util", "jobs")

# extra -> (unit, better)
UNITS = {
    "wall_s": ("s", "lower"),
    "cpu_s": ("s", "lower"),
    "slot_util": ("ratio", "higher"),
    "jobs": ("count", "lower"),
    "input_rows": ("rows", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spill_mb": ("MB", "lower"),
    "output_mb": ("MB", "lower"),
}

# the default rule set runs in daily-ingest's checks; the opt-in rules run
# only in full-verify, by hand, and serially in daily-ingest's traced run
_DEFAULT_RULES = ("sha256", "uniqueness", "referential", "column_stats", "drift")
_OPT_IN_RULES = ("numeric_outlier", "secrets")

# span -> (end-to-end metric it should move, workload, extras)
SPANS: dict[str, tuple[str, str, tuple[str, ...]]] = {
    "session.get_spark": ("setup_s", "all", ()),
    "rule.prepare_files": ("daily_check_s", "daily-ingest", ("input_rows",)),
    **{f"rules.{r}": ("daily_check_s", "daily-ingest", ("shuffle_write_mb",)) for r in _DEFAULT_RULES},
    **{f"rules.{r}": ("verify_rows_per_s", "full-verify", ("shuffle_write_mb",)) for r in _OPT_IN_RULES},
    "runner.run_suite": ("setup_s", "daily-ingest", ("spill_mb",)),
    "checksum.checksum_table": ("diff_rows_per_s", "migration-diff", ()),
    "checksum.multiset_diff": ("diff_rows_per_s", "migration-diff", ("shuffle_write_mb", "spill_mb")),
    "checksum.recover_rows": ("diff_rows_per_s", "migration-diff", ()),
    "checksum.column_diff": ("diff_rows_per_s", "migration-diff", ("shuffle_write_mb",)),
    "report.write": ("diff_rows_per_s", "migration-diff", ("output_mb",)),
    "snapshots.bucket_signatures": ("daily_check_s", "daily-ingest", ("input_rows",)),
    "snapshots.changed_buckets": ("daily_check_s", "daily-ingest", ()),
    "runner.check_incremental": ("daily_check_s", "daily-ingest", ()),
    "checkpoint.read": ("daily_check_s", "daily-ingest", ()),
    "snapshots.record_snapshot": ("daily_check_s", "daily-ingest", ()),
    "snapshots.record_histograms": ("daily_check_s", "daily-ingest", ("output_mb",)),
    "dedup.minhash_signatures": ("ingest_s", "daily-ingest", ()),
    "dedup.ingest_probe_index": ("ingest_s", "daily-ingest", ("shuffle_read_mb", "shuffle_write_mb")),
    "dedup.compact_index": ("compact_s", "daily-ingest", ("output_mb",)),
}

# ratio -> (unit, better, end-to-end metric it should move, workload)
RATIOS: dict[str, tuple[str, str, str, str]] = {
    "runner.rule_overlap": ("ratio", "higher", "daily_check_s", "daily-ingest"),
    "diff.recovered_per_violation": ("ratio", "higher", "diff_rows_per_s", "migration-diff"),
    "daily.rescan_ratio": ("ratio", "lower", "daily_check_s", "daily-ingest"),
    "daily.dirty_bucket_frac": ("ratio", "lower", "daily_check_s", "daily-ingest"),
    "ingest.new_doc_frac": ("ratio", "higher", "ingest_s", "daily-ingest"),
    "trace.overhead_frac": ("ratio", "lower", "iter_cpu_s", "all"),
}

# the daily-ingest phases of an iteration's wall time, named after the end-to-end view
DAILY_PHASES = {
    "daily_check_s": (
        "snapshots.bucket_signatures", "snapshots.changed_buckets", "runner.check_incremental",
        "snapshots.record_snapshot", "snapshots.record_histograms",
    ),
    "ingest_s": ("dedup.ingest_probe_index",),
    "compact_s": ("dedup.compact_index",),
}


def catalogue() -> list[dict[str, str]]:
    """Every per-layer metric as BENCHMARK.json lists it."""
    out = []
    for span, (_, _, extras) in SPANS.items():
        for m in CORE + extras:
            unit, better = UNITS[m]
            out.append({"name": f"{span}.{m}", "unit": unit, "better": better})
    for name, (unit, better, _, _) in RATIOS.items():
        out.append({"name": name, "unit": unit, "better": better})
    return out


def per_layer_metrics(totals: dict[str, dict[str, float]], ratios: dict[str, float], cores: int) -> dict:
    """The traced run's result metrics: every catalogue entry, 0 where this
    workload never entered the span or the ratio does not apply."""
    values: dict[str, float] = {}
    for span, (_, _, extras) in SPANS.items():
        t = totals.get(span, {})
        wall = t.get("wall_s", 0.0)
        values[f"{span}.wall_s"] = wall
        values[f"{span}.cpu_s"] = t.get("cpu_ns", 0) / 1e9
        values[f"{span}.slot_util"] = t.get("run_ms", 0) / 1000.0 / (wall * cores) if wall else 0.0
        values[f"{span}.jobs"] = t.get("jobs", 0)
        for m in extras:
            if m.endswith("_mb"):
                values[f"{span}.{m}"] = t.get(m[:-3] + "_bytes", 0) / 2**20
            else:
                values[f"{span}.{m}"] = t.get(m, 0)
    for name in RATIOS:
        values[name] = ratios.get(name, 0.0)
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in catalogue()
    }
