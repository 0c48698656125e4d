"""Span attribution on a small recorded Spark 4 event log.

The log (task metrics trimmed to the fields the reader uses) was recorded
on local[4] around this sequence: a parquet write of 500 rows outside any
span; span "outer": range(1000).count(); nested span "inner": a count and
a groupBy/collect over the 500-row parquet; back in "outer":
range(10).collect(); range(5).count() outside any span; and a warm-up
span (not measured) around range(7).count().
"""

import json
from pathlib import Path

import eventlog

DATA = Path(__file__).parent / "data" / "eventlog"


def _spans() -> list[eventlog.Span]:
    return [eventlog.Span(**s) for s in json.loads((DATA / "spans.json").read_text())]


def _jobs() -> list[eventlog.Job]:
    return eventlog.read_jobs(eventlog.event_files(DATA))


def test_reads_the_rolling_files_and_every_job():
    assert [p.name for p in eventlog.event_files(DATA)] == ["events_1_local-0001"]
    jobs = _jobs()
    assert [j.job_id for j in jobs] == list(range(13))
    # the write outside any span read nothing from parquet and wrote it
    assert jobs[0].sums["output_bytes"] > 0


def test_jobs_go_to_the_innermost_open_span():
    spans = _spans()
    owned = eventlog.attribute(_jobs(), spans)
    by_name = {spans[i].name: [j.job_id for j in js] for i, js in owned.items()}
    assert by_name == {"outer": [1, 2, 8], "inner": [3, 4, 5, 6, 7], "warmup": [11, 12]}
    # jobs 0, 9 and 10 ran outside every span and belong to none


def test_span_totals_sum_task_metrics_of_measured_spans_only():
    totals = eventlog.span_totals(_jobs(), _spans())
    assert set(totals) == {"outer", "inner"}  # the warm-up owns jobs but reports nothing
    inner, outer = totals["inner"], totals["outer"]
    assert (inner["jobs"], outer["jobs"]) == (5, 3)
    assert inner["input_rows"] == 1000  # two scans of the 500-row parquet
    assert outer["input_rows"] == 1010  # range(1000) and range(10)
    # every shuffle written inside a span is read back inside it
    assert inner["shuffle_write_bytes"] == inner["shuffle_read_bytes"] > 0
    jobs = {j.job_id: j for j in _jobs()}
    assert inner["run_ms"] == sum(jobs[i].sums["run_ms"] for i in (3, 4, 5, 6, 7))
    assert abs(inner["wall_s"] - 1.539) < 0.001
