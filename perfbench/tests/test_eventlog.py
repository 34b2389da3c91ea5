"""Event-log parsing and job-group attribution on a canned log.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os

import pytest

from eventlog import GroupMetrics, parse_dir, parse_events

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")
EXEC = "traced#0|q1_pricing_summary|exec"
BUILD = "traced#0|q1_pricing_summary|build"


def _parse() -> dict:
    with open(FIXTURE) as f:
        return parse_events(f)


def test_groups_and_counts():
    groups = _parse()
    assert set(groups) == {EXEC, BUILD}
    m = groups[EXEC]
    assert (m.jobs, m.stages, m.tasks) == (1, 2, 3)
    b = groups[BUILD]
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 1)


def test_task_metrics_are_summed_per_group():
    m = _parse()[EXEC]
    assert m.task_s == pytest.approx(0.45)
    assert m.cpu_s == pytest.approx(0.37)
    assert m.gc_s == pytest.approx(0.03)
    assert m.shuffle_write_mb == pytest.approx(2.0)
    assert m.shuffle_read_mb == pytest.approx(2.0)
    assert m.spill_mb == pytest.approx(3.0)
    assert m.input_mb == pytest.approx(5.0)
    assert m.input_rows == 300
    assert m.output_mb == pytest.approx(0.5)
    assert m.peak_exec_mb == pytest.approx(4.0)


def test_skew_is_max_over_median_task_duration():
    # stage 0 ran tasks of 100 and 300 ms; stage 1's single task is not a spread
    assert _parse()[EXEC].task_skew == pytest.approx(1.5)
    assert _parse()[BUILD].task_skew == 1.0


def test_add_merges_sums_and_maxima():
    groups = _parse()
    total = GroupMetrics()
    total.add(groups[EXEC])
    total.add(groups[BUILD])
    assert total.tasks == 4
    assert total.task_s == pytest.approx(0.55)
    assert total.peak_exec_mb == pytest.approx(4.0)
    assert total.task_skew == pytest.approx(1.5)


def test_parse_dir_reads_every_application(tmp_path):
    with open(FIXTURE) as f:
        text = f.read()
    (tmp_path / "local-1").write_text(text)
    (tmp_path / "local-2").write_text(text)
    m = parse_dir(str(tmp_path))[EXEC]
    assert (m.jobs, m.tasks) == (2, 6)


def test_parse_dir_reads_rolling_v2_layout(tmp_path):
    # Spark 4 writes one directory per application: events_<n>_<app> parts
    # beside an empty appstatus marker and checksum files
    with open(FIXTURE) as f:
        text = f.read()
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text(text)
    (app / "appstatus_local-1").write_text("")
    (app / ".appstatus_local-1.crc").write_text("crc")
    m = parse_dir(str(tmp_path))[EXEC]
    assert (m.jobs, m.tasks) == (1, 3)
