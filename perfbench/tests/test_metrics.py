"""Metric math of the benchmark: percentile rule, open-loop timing, the
checkpoint source-log reader and the failure count behind error_rate."""

import json
import os
import time

import numpy as np
import pytest

from perfbench import metrics


@pytest.mark.parametrize(
    "n, expected",
    [(9, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    assert metrics.tail_percentile(n) == expected


def test_summarize_reports_tail_with_its_sample_count():
    s = metrics.summarize(range(200))
    assert s["n"] == 200 and s["tail_p"] == 95.0
    assert s["tail"] == pytest.approx(metrics.percentile(range(200), 95))
    assert metrics.summarize(range(5))["tail"] is None


def test_percentile_interpolates_linearly():
    assert metrics.percentile([1, 2, 3, 4], 50) == 2.5
    assert metrics.percentile([10], 95) == 10
    with pytest.raises(ValueError):
        metrics.percentile([], 50)


def test_open_loop_latency_counts_from_due_time_not_send_time():
    # item b was due at 1.0 but the generator stalled and sent it at 1.5;
    # its latency must include the 0.5 s the stall cost it
    due = {"a": 0.0, "b": 1.0, "c": 2.0}
    done = {"a": 0.1, "b": 1.6, "c": 2.1}
    assert metrics.latencies_from_due(due, done) == pytest.approx([100.0, 600.0, 100.0])


def test_open_loop_latency_refuses_items_never_completed():
    with pytest.raises(KeyError):
        metrics.latencies_from_due({"a": 0.0, "b": 1.0}, {"a": 0.5})


def _write_log(path, entries):
    with open(path, "w", encoding="utf-8") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def _entry(name, batch):
    return {"path": f"file:///in/{name}", "timestamp": 0, "batchId": batch, "action": "add"}


def test_batch_to_file_mapping_comes_from_checkpoint_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    # a compacted log repeats earlier batches' entries with their own ids
    _write_log(log / "9.compact", [_entry("f0", 0), _entry("f1", 0), _entry("f2", 9)])
    _write_log(log / "10", [_entry("f3", 10), _entry("f4", 10)])
    (log / ".10.crc").write_text("ignored")
    assert metrics.read_source_log(str(tmp_path)) == {"f0": 0, "f1": 0, "f2": 9, "f3": 10, "f4": 10}

    commits = tmp_path / "commits"
    commits.mkdir()
    now = time.time()
    for batch, t in ((0, now - 3), (9, now - 2), (10, now - 1)):
        (commits / str(batch)).write_text("v1\n{}\n")
        os.utime(commits / str(batch), (t, t))
    (commits / ".0.crc").write_text("ignored")
    done = metrics.file_done_times(str(tmp_path))
    assert done["f1"] == pytest.approx(now - 3)
    assert done["f2"] == pytest.approx(now - 2)
    assert done["f4"] == pytest.approx(now - 1)


def test_file_of_uncommitted_batch_has_no_done_time(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    _write_log(log / "0", [_entry("f0", 0)])
    _write_log(log / "1", [_entry("f1", 1)])
    (tmp_path / "commits").mkdir()
    (tmp_path / "commits" / "0").write_text("v1\n{}\n")
    assert set(metrics.file_done_times(str(tmp_path))) == {"f0"}


def test_error_rate_counts_a_dropped_record_as_a_failure():
    # the generator wrote keys 0, 0, 1, 2, 2, 2; the record of key 2 in
    # batch 1 was dropped, so key 2's last running count is 2, not 3
    expected = np.bincount([0, 0, 1, 2, 2, 2], minlength=4)
    rows_key, rows_batch, rows_count = [0, 1, 2, 0, 2], [0, 0, 0, 1, 1], [1, 1, 1, 2, 2]
    final = metrics.final_counts(rows_key, rows_batch, rows_count, 4)
    tally = metrics.Tally()
    tally.add(int(np.count_nonzero(expected)), metrics.count_failures(expected, final), "drain")
    assert tally.failed == 1
    assert tally.error_rate == pytest.approx(1 / 3)


def test_final_count_is_the_last_batch_whatever_the_row_order():
    final = metrics.final_counts([3, 3, 3], [2, 0, 1], [9, 4, 6], 5)
    assert final.tolist() == [0, 0, 0, 9, 0]
    assert metrics.final_counts([], [], [], 2).tolist() == [0, 0]


def test_duplicated_and_unexpected_keys_are_failures():
    expected = np.array([2, 1, 0])
    assert metrics.count_failures(expected, np.array([2, 1, 0])) == 0
    assert metrics.count_failures(expected, np.array([3, 1, 0])) == 1  # duplicated record
    assert metrics.count_failures(expected, np.array([2, 1, 1])) == 1  # key never written


def test_empty_tally_is_all_failure():
    assert metrics.Tally().error_rate == 1.0
