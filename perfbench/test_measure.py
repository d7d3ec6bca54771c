"""Tests for the benchmark's own arithmetic (no Spark, no JVM).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import statistics

import pytest

import feed
import measure
from spans import Tracer


def _progress(batch_id, start_iso, trigger_ms, lo, hi, rows):
    return {
        "batchId": batch_id,
        "timestamp": start_iso,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [
            {
                "startOffset": None if lo is None else {"logOffset": lo},
                "endOffset": {"logOffset": hi},
            }
        ],
    }


def test_epoch_s_reads_progress_timestamps_as_utc():
    assert measure.epoch_s("1970-01-01T00:00:01.500Z") == 1.5


def test_lag_is_commit_minus_oldest_creation_stamp():
    t0 = 1_700_000_000.0
    a = feed.file_name(0, t0)  # created at t0
    b = feed.file_name(1, t0 + 1.0)  # created one second later
    c = feed.file_name(2, t0 + 2.0)
    source_log = {0: [a], 1: [b, c]}
    iso = lambda s: f"2023-11-14T22:13:{s:06.3f}Z"  # t0 is 22:13:20 UTC
    progress = [
        # batch 0 starts 0.5 s after a was created and runs 1.25 s
        _progress(0, iso(20.5), 1250, None, 0, 10),
        # a batch that read no new file yields no row
        _progress(1, iso(22.0), 100, 0, 0, 0),
        # batch 2 reads b and c, starts at t0 + 2.5, runs 0.5 s
        _progress(2, iso(22.5), 500, 0, 1, 20),
    ]
    rows = measure.trigger_rows(progress, source_log, feed.stamp_of)
    assert [r["batch_id"] for r in rows] == [0, 2]
    assert rows[0]["lag_ms"] == pytest.approx(1750.0)
    # the oldest file in batch 2 is b: commit t0 + 3.0 minus t0 + 1.0
    assert rows[1]["lag_ms"] == pytest.approx(2000.0)
    assert rows[1]["files"] == sorted([b, c])
    # per file: a -> 1750, b -> 2000, c -> 1000
    assert sorted(measure.file_lags_ms(rows, feed.stamp_of)) == pytest.approx(
        [1000.0, 1750.0, 2000.0]
    )


def test_phase_rate_falls_when_the_backlog_grows():
    t0 = 1_700_000_000.0
    files = [feed.file_name(k, t0 + k) for k in range(4)]  # one file a second
    # each trigger commits 0.5 s after its file was due: 400 rows over 3.5 s
    keeping_up = [
        {"files": [f], "rows": 100, "commit": t0 + k + 0.5} for k, f in enumerate(files)
    ]
    assert measure.phase_rate(keeping_up, feed.stamp_of) == pytest.approx(400 / 3.5)
    # the same rows, but every trigger commits a second later than the last:
    # the phase runs to t0 + 3 + 3.5, so the rate is lower
    falling_behind = [
        {"files": [f], "rows": 100, "commit": t0 + 2 * k + 0.5} for k, f in enumerate(files)
    ]
    assert measure.phase_rate(falling_behind, feed.stamp_of) == pytest.approx(400 / 6.5)


def test_offsets_may_arrive_as_json_text():
    log = {3: ["x-000003-1000.parquet"]}
    p = _progress(7, "1970-01-01T00:00:01.000Z", 500, None, 3, 1)
    p["sources"][0]["startOffset"] = '{"logOffset":2}'
    p["sources"][0]["endOffset"] = '{"logOffset":3}'
    (row,) = measure.trigger_rows([p], log, feed.stamp_of)
    assert row["lag_ms"] == pytest.approx(500.0)


def test_source_log_reads_compacted_and_plain_entries(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    entry = lambda path, b: json.dumps({"path": path, "timestamp": 0, "batchId": b})
    (d / "9.compact").write_text("v1\n" + entry("f0", 0) + "\n" + entry("f1", 9) + "\n")
    (d / "10").write_text("v1\n" + entry("f2", 10) + "\n")
    (d / ".10.crc").write_text("ignored")
    log = measure.read_source_log(str(tmp_path))
    assert log == {0: ["f0"], 9: ["f1"], 10: ["f2"]}


def test_file_name_round_trips_stamp_and_index():
    name = feed.file_name(42, 1234.5678)
    assert feed.stamp_of("/some/dir/" + name) == pytest.approx(1234.568)
    assert feed.index_of(name) == 42


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert measure.percentile(xs, 50) == 50
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 100) == 100
    assert measure.percentile([7.0], 90) == 7.0
    # the tail percentile of ten samples is the ninth smallest
    assert measure.percentile([10, 1, 9, 2, 8, 3, 7, 4, 6, 5], 90) == 9
    with pytest.raises(ValueError):
        measure.percentile([], 50)


def test_spread_matches_statistics_quantiles():
    xs = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 10.1, 9.9, 10.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert measure.spread(xs) == pytest.approx((q3 - q1) / med)


def test_failed_share():
    assert measure.failed_share(0, 10) == 0.0
    assert measure.failed_share(3, 12) == 0.25
    with pytest.raises(ValueError):
        measure.failed_share(0, 0)
    with pytest.raises(ValueError):
        measure.failed_share(5, 4)


def test_self_time_is_span_minus_covered_child_time():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # children overlap on [3, 4]: covered time is [2, 5] + [6, 7] = 4
        {"id": 2, "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},
        {"id": 4, "parent": 1, "start": 6.0, "end": 7.0},
        # a grandchild is covered by its own parent, not the root
        {"id": 5, "parent": 2, "start": 2.5, "end": 3.0},
    ]
    st = measure.self_times(spans)
    assert st[1] == pytest.approx(6.0)
    assert st[2] == pytest.approx(1.5)
    assert st[3] == pytest.approx(2.0)
    assert st[5] == pytest.approx(0.5)
    # self times of a tree with nested, non-overlapping children add up to
    # the root's duration
    assert st[1] + st[2] + st[4] + st[5] + (st[3] - 1.0) == pytest.approx(10.0)


def test_self_time_clips_a_child_that_sticks_out():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 4.0},
        {"id": 2, "parent": 1, "start": 3.0, "end": 6.0},
    ]
    assert measure.self_times(spans)[1] == pytest.approx(3.0)


def test_tracer_records_nesting_only_when_enabled():
    tr = Tracer(True)
    with tr.span("outer") as o:
        with tr.span("inner", o.id, attrs={"batch": 3}):
            pass
    names = {s["name"]: s for s in tr.spans}
    assert names["inner"]["parent"] == names["outer"]["id"]
    assert names["inner"]["attrs"] == {"batch": 3}
    off = Tracer(False)
    with off.span("outer") as o:
        assert o.id is None
    assert off.add("x", 0.0, 1.0) is None
    assert off.spans == []


def test_signals_are_seeded_and_in_event_order(tmp_path):
    a = feed.signals(5, 1, 100, 1_000_000, 1_000_000)
    b = feed.signals(5, 1, 100, 1_000_000, 1_000_000)
    c = feed.signals(6, 1, 100, 1_000_000, 1_000_000)
    assert a.equals(b) and not a.equals(c)
    ts = a.column("ts_us").to_pylist()
    assert ts == sorted(ts) and 1_000_000 <= ts[0] and ts[-1] < 2_000_000
    paths = feed.write_backlog(str(tmp_path), 5, 3, 10, 0, 300)
    mtimes = [os.path.getmtime(p) for p in paths]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_closed_windows_counts_symbol_window_groups(tmp_path):
    # two files of 300 s each from t = 0: windows [0, 300) and [300, 600)
    paths = feed.write_backlog(str(tmp_path), 5, 2, 200, 0, 300)
    assert feed.closed_windows(paths, 600) == 2 * len(feed.SYMBOLS)
    assert feed.closed_windows(paths, 599) == len(feed.SYMBOLS)
    assert feed.closed_windows(paths, 299) == 0
