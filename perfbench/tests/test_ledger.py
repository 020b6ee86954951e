"""The event-log ledger parser on a small recorded Spark 4 event log.

The log (tests/data/small_eventlog.jsonl) is a real local[2] run trimmed to
the events the parser reads: a ``range(1000).count()`` under job group
``scan:0``, two ``groupBy().count().collect()`` under ``agg:0`` and one more
count under ``_probe:0``.
"""

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import ledger  # noqa: E402

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return ledger.parse_event_log(f)


def test_groups_and_jobs(groups):
    assert set(groups) == {"scan:0", "agg:0", "_probe:0"}
    assert {g: s.jobs for g, s in groups.items()} == {"scan:0": 1, "agg:0": 2, "_probe:0": 1}


def test_task_sums(groups):
    scan, agg = groups["scan:0"], groups["agg:0"]
    assert (scan.tasks, agg.tasks, groups["_probe:0"].tasks) == (3, 10, 3)
    assert scan.task_s == pytest.approx(0.296)
    assert agg.task_s == pytest.approx(0.840)
    assert scan.cpu_s == pytest.approx(0.194767225)
    assert agg.cpu_s == pytest.approx(0.363589995)
    assert scan.shuffle_write_mb == pytest.approx(118 / 1e6)
    assert agg.shuffle_write_mb == pytest.approx(886 / 1e6)
    # every byte a group's map stages wrote was read back by its own jobs
    for s in groups.values():
        assert s.shuffle_read_mb == pytest.approx(s.shuffle_write_mb)
        assert s.spill_mb == 0


def test_task_skew_is_max_over_median_of_heaviest_stage(groups):
    for s in groups.values():
        heaviest = max((ts for ts in s.stage_task_s.values() if len(ts) > 1), key=sum)
        assert s.task_skew == pytest.approx(max(heaviest) / statistics.median(heaviest))
        assert s.task_skew >= 1.0


def test_ungrouped_stages_are_dropped():
    lines = [
        '{"Event":"SparkListenerStageSubmitted","Stage Info":{"Stage ID":9},"Properties":{}}',
        '{"Event":"SparkListenerTaskEnd","Stage ID":9,"Task Metrics":{"Executor Run Time":5}}',
    ]
    assert ledger.parse_event_log(lines) == {}


def test_layer_metrics_joins_spans_and_groups(groups):
    spans = [
        ledger.Span("signatures", 0.0, 1.5, "call", "call:0"),
        ledger.Span("lsh", 1.5, 2.0, "call", "call:0"),
        ledger.Span("lsh", 2.0, 2.25, "call", "call:0"),
        ledger.Span("lsh", 0.0, 9.0, "call", "call:1"),
    ]
    g = {"lsh:0": groups["agg:0"]}
    m = ledger.layer_metrics(spans, g, "call:0", {"lsh": (10, 4)})
    assert set(m) == {f"{l}.{f}" for l in ledger.LAYERS for f in ledger.LAYER_FIELDS}
    assert m["signatures.wall_s"] == pytest.approx(1.5)
    assert m["lsh.wall_s"] == pytest.approx(0.75)
    assert (m["lsh.jobs"], m["lsh.tasks"]) == (2, 10)
    assert (m["lsh.rows_in"], m["lsh.rows_out"]) == (10, 4)
    assert m["signatures.jobs"] == 0 and m["signatures.task_skew"] == 0.0
