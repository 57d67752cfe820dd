"""The benchmark's own arithmetic: self time from nested spans, event-log
parsing on a small canned log, the tail percentile, and the output checks.

    python3 -m pytest perfbench/tests -q
"""

import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

from perfbench import checks, eventlog  # noqa: E402
from perfbench.run import tail  # noqa: E402
from perfbench.spans import Tracer, covered, self_times, totals_by_name  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def span(i, parent, name, start, end, op=0):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "layer": name.split(".")[0], "start": start, "end": end}


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (8, 9)], 0, 10) == pytest.approx(6)
    assert covered([(1, 4), (3, 6)], 2, 5) == pytest.approx(3)
    assert covered([(0, 1)], 2, 5) == 0
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0, None, "pipeline.run_pipeline", 0, 10),
        span(1, 0, "sinks.fan_out_write", 1, 4),
        span(2, 1, "ledger.commit", 2, 3),   # grandchild: counts against 1 only
        span(3, 0, "ledger.commit", 3, 6),   # overlaps its sibling
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - 5)
    assert selfs[1] == pytest.approx(3 - 1)
    assert selfs[2] == pytest.approx(1)
    assert selfs[3] == pytest.approx(3)
    tot = totals_by_name(spans)
    assert tot["ledger.commit"] == {"n": 2, "total_s": pytest.approx(4),
                                    "self_s": pytest.approx(4)}


class FakeContext:
    def __init__(self):
        self.groups = []

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_tracer_nests_spans_and_restores_job_group():
    sc = FakeContext()
    tr = Tracer(sc)
    tr.op = 7
    traced = tr.wrap(lambda x: x * 2, "sinks.fan_out_write")
    with tr.span("pipeline.run_pipeline"):
        assert traced(21) == 42
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert inner["op"] == 7 and inner["layer"] == "sinks"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert sc.groups == ["pipeline.run_pipeline", "sinks.fan_out_write",
                         "pipeline.run_pipeline", None]


@pytest.fixture
def canned_log(tmp_path):
    shutil.copy(os.path.join(DATA, "eventlog_small.jsonl"), tmp_path / "local-1")
    (tmp_path / "appstatus_local-1").write_text("")
    return str(tmp_path)


def test_event_log_groups(canned_log):
    groups = eventlog.group_metrics(eventlog.read_events(canned_log))
    write = groups["sinks.fan_out_write"]
    assert write["jobs"] == 1 and write["tasks"] == 3 and write["failed_tasks"] == 1
    assert write["executor_run_s"] == pytest.approx(0.95)
    assert write["executor_cpu_s"] == pytest.approx(0.6)
    assert write["gc_s"] == pytest.approx(0.02)
    # (500-400-30-10) + (300-250) + (400-300-(1900-1850)) ms
    assert write["scheduler_delay_s"] == pytest.approx(0.16)
    assert write["peak_execution_memory_bytes"] == 5000
    assert write["shuffle_write_bytes"] == 5120 and write["spill_bytes"] == 10
    read = groups["sinks.read"]
    assert read["python_s"] == pytest.approx(0.12)
    assert read["jobs"] == 1 and read["tasks"] == 1
    assert read["scheduler_delay_s"] == pytest.approx(0.05)
    assert groups[eventlog.NO_GROUP]["tasks"] == 1


def test_event_log_job_intervals(canned_log):
    jobs = eventlog.job_intervals(eventlog.read_events(canned_log))
    assert jobs == [(1.0, 2.0), (2.5, 2.8), (3.0, 3.2)]
    # a call from t=0.5 to t=3.5 ran with no job for 3.0 - 1.5 seconds
    assert 3.0 - covered(jobs, 0.5, 3.5) == pytest.approx(1.5)


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10)["percentile"] is None
    t = tail([float(i) for i in range(1, 41)])
    assert t["percentile"] == 75 and t["n"] == 40
    assert sum(v > t["value"] for v in range(1, 41)) >= 10


def test_lineage_and_digest_checks():
    answers = {0: {"rows_in": 5, "dropped": 1, "digest": [4, 10, 20],
                   "sinks": {"a": {"n_rows": 3, "n_convs": 2, "text_chars": 30},
                             "b": {"n_rows": 1, "n_convs": 1, "text_chars": 9}}}}
    lineage = [
        {"snapshot_id": 0, "partition_id": -1, "rows_in": 5, "routed": 4,
         "dropped": 1, "sink": None},
        {"snapshot_id": 0, "partition_id": 0, "rows_in": None, "routed": 3,
         "dropped": None, "sink": "a"},
        {"snapshot_id": 0, "partition_id": 1, "rows_in": None, "routed": 1,
         "dropped": None, "sink": "b"},
        {"snapshot_id": 0, "partition_id": 0, "rows_in": 5, "routed": None,
         "dropped": None, "sink": None},
    ]
    assert checks.lineage_errors(lineage, answers) == []
    lineage[1]["routed"] = 2
    assert checks.lineage_errors(lineage, answers)

    digest = [{"snapshot": 0, "sink": "a", "n_rows": 3, "d1": 7, "d2": 15},
              {"snapshot": 0, "sink": "b", "n_rows": 1, "d1": 3, "d2": 5}]
    assert checks.digest_errors(digest, answers) == []
    digest[1]["d2"] = 6
    assert checks.digest_errors(digest, answers)

    rows = [{"sink": "a", "n_rows": 3, "n_convs": 2, "text_chars": 30},
            {"sink": "b", "n_rows": 1, "n_convs": 1, "text_chars": 9}]
    assert checks.sink_count_errors(rows, answers) == []
    rows[0]["text_chars"] = 31
    assert checks.sink_count_errors(rows, answers)


def test_funnel_checks():
    counts = {"input": 10, "clean_text": 10, "quality_gate": 9, "exact_dedup": 8,
              "neardup_keep_best": 8, "decontaminate": 7, "pii_line_dedup": 7,
              "temperature_mix": 5, "chunks": 6, "packed_bins": 2, "shuffled": 5}
    assert checks.funnel_errors(counts, 10, None) == []
    assert checks.funnel_errors(counts, 10, dict(counts)) == []
    assert checks.funnel_errors(counts, 11, None)
    assert checks.funnel_errors(counts, 10, {**counts, "chunks": 7})
    assert checks.funnel_errors({**counts, "exact_dedup": 10}, 10, None)
    assert checks.funnel_errors({**counts, "shuffled": 4}, 10, None)
