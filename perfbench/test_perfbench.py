"""Tests of the benchmark harness's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import measure  # noqa: E402
from spans import self_time_by_layer  # noqa: E402

from sparkksqldbbenchmark_spark.sources.avro_codec import decode_record  # noqa: E402


def test_newest_event_follows_from_schedule_and_message_count():
    plan = gen.WeatherPlan()
    n = plan.events_per_window
    expected = gen.expected_rows(plan, seed=5, window=2)
    for station in range(1, plan.stations + 1):
        due = [plan.event_offset_s(i) for i in range(n) if plan.station_of(i) == station]
        count = expected[("sunshine", station)][0]
        assert count == len(due)
        assert plan.newest_event_offset_s(station, count) == max(due)


def test_expected_rows_match_generated_values():
    plan = gen.WeatherPlan(rate_per_topic=40, stations=4)
    cents = gen.window_values(9, 1, "wind_speed", plan.events_per_window)
    exp = gen.expected_rows(plan, 9, 1)
    values = [c / 100 for i, c in enumerate(cents) if plan.station_of(i) == 3]
    cnt, mn, mx, avg = exp[("wind_speed", 3)]
    assert (cnt, mn, mx) == (len(values), min(values), max(values))
    assert abs(avg - sum(values) / len(values)) < 1e-9


def test_window_files_are_due_in_phase_before_the_trigger():
    plan = gen.WeatherPlan()
    dues = [plan.file_due_offset_s(j) for j in range(plan.files_per_window)]
    assert dues == sorted(dues)
    assert dues[-1] == plan.trigger_s - plan.quiet_s
    # every event of file j is due no later than the file itself
    per_file = plan.events_per_window // plan.files_per_window
    for j, due in enumerate(dues):
        assert plan.event_offset_s((j + 1) * per_file - 1) <= due


def test_trigger_alignment():
    assert measure.next_trigger_s(9.0, 3) == 12  # strictly after, like Spark
    assert measure.next_trigger_s(10.2, 3) == 12
    assert measure.next_trigger_s(1_700_000_001.5, 3) % 3 == 0


def test_trigger_lag_is_against_the_scheduled_trigger():
    # window m's batch is due at start0 + (m+1)*interval; a batch 4 s late
    # reads 4 s, not 4 s modulo the interval
    lags = measure.trigger_lags_s({0: 3.02, 1: 6.5, 2: 13.0}, start0_s=0.0, interval_s=3)
    assert abs(lags[0] - 0.02) < 1e-9 and abs(lags[1] - 0.5) < 1e-9
    assert lags[2] == 4.0
    assert [m for m, lag in lags.items() if lag > 3] == [2]


def test_percentile_needs_ten_samples_beyond():
    assert measure.samples_beyond(100, 0.9) == 9
    assert measure.supported_percentile(list(range(100)), 0.9) is None
    assert measure.samples_beyond(110, 0.9) == 10
    assert measure.supported_percentile(list(range(110)), 0.9) == 99
    assert measure.supported_percentile([], 0.5) is None
    assert measure.nearest_rank([3, 1, 2], 0.99) == 3


def test_tree_cpu_excludes_the_harness_and_its_generator():
    stats = {
        1: {"ppid": 0, "cpu_s": 7.0, "child_cpu_s": 0.0},
        100: {"ppid": 1, "cpu_s": 50.0, "child_cpu_s": 0.0},  # harness + generator
        200: {"ppid": 100, "cpu_s": 10.0, "child_cpu_s": 2.0},  # JVM (+ reaped)
        300: {"ppid": 200, "cpu_s": 1.0, "child_cpu_s": 0.5},  # Python daemon
        301: {"ppid": 300, "cpu_s": 3.0, "child_cpu_s": 0.0},  # Python worker
        400: {"ppid": 1, "cpu_s": 99.0, "child_cpu_s": 0.0},  # unrelated
    }
    assert measure.tree_pids(stats, 200) == {200, 300, 301}
    assert measure.tree_cpu_s(stats, 200) == 16.5


def test_tree_cpu_reads_this_process():
    pid = os.getpid()
    assert measure.tree_cpu_s(measure.read_proc_stats(), pid) > 0


def test_payload_is_confluent_framed_weather_avro():
    rec = {"timeObserved": "2024-01-01T00:00:00+00:00", "stationId": 3,
           "stationName": "station-3", "metric": "sunshine", "value": 12.5,
           "producer_ts": 1_704_067_200_000}
    data = gen.encode_weather(rec)
    assert data[0] == 0 and int.from_bytes(data[1:5], "big") == gen.SCHEMA_ID
    assert decode_record(gen.WEATHER_DATA_AVRO, data[5:]) == rec


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 0, "parent": None, "layer": "streaming", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "layer": "sources", "start": 2.0, "end": 5.0},
        {"id": 2, "parent": 0, "layer": "operators", "start": 4.0, "end": 8.0},
    ]
    assert self_time_by_layer(spans) == {"streaming": 4.0, "sources": 3.0, "operators": 4.0}


def test_batch_tables_are_seeded():
    a, b = gen.batch_tables(3, 0.001), gen.batch_tables(3, 0.001)
    c = gen.batch_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
