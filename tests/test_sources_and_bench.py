"""Sources (file readers, Confluent framing) and bench-harness tests."""

from __future__ import annotations

import math
import os
import statistics
import tempfile
import zipfile

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.bench import latency, reports
from sparkksqldbbenchmark_spark.schemas import (
    AGGREGATED_WEATHER_AVRO,
    WEATHER_DATA,
    WEATHER_DATA_AVRO,
)
from sparkksqldbbenchmark_spark.sources import files, kafka


def test_csv_roundtrip_and_semicolon(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "data.csv")
    with open(p, "w") as f:
        f.write("a;b\n1;x\n2;y\n")
    df = files.read_semicolon_csv(spark, p)
    rows = {(r["a"], r["b"]) for r in df.collect()}
    assert rows == {(1, "x"), (2, "y")}


def test_zipped_csv(spark):
    d = tempfile.mkdtemp()
    zp = os.path.join(d, "archive.zip")
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("inner.csv", "k,v\n1,10\n2,20\n")
    df = files.read_zipped_csv(spark, zp)
    assert {(r["k"], r["v"]) for r in df.collect()} == {(1, 10), (2, 20)}


def test_jsonl(spark):
    d = tempfile.mkdtemp()
    p = os.path.join(d, "rows.jsonl")
    with open(p, "w") as f:
        f.write('{"x": 1}\n{"x": 2}\n')
    assert {r["x"] for r in files.read_json(spark, p).collect()} == {1, 2}


def test_confluent_framing_roundtrip(spark):
    """S2/S3/S7 — header strip/add and wire-format detection over real
    binary columns, no Kafka needed."""
    payload = b"avro-bytes-here"
    framed = bytes([0]) + (42).to_bytes(4, "big") + payload
    df = spark.createDataFrame(
        [(framed,), (payload,)], "value binary"
    )
    out = df.select(
        kafka.is_confluent_framed(F.col("value")).alias("framed"),
        kafka.strip_confluent_header(F.col("value")).alias("stripped"),
        kafka.confluent_schema_id(F.col("value")).alias("sid"),
    ).collect()
    by_framed = {r["framed"]: r for r in out}
    assert bytes(by_framed[True]["stripped"]) == payload
    assert by_framed[True]["sid"] == 42
    assert by_framed[False]["framed"] is False

    # add-header inverse
    added = df.where(F.length("value") == len(payload)).select(
        kafka.add_confluent_header(F.col("value"), 42).alias("v")
    ).collect()[0]["v"]
    assert bytes(added) == framed


def test_json_payload_decode_flatten(spark):
    """S2-JSON degradation path + P1 flatten."""
    df = spark.createDataFrame(
        [(b'{"timeObserved":"2024-01-01 00:00:00+00:00","stationId":6013,'
          b'"stationName":"Silstrup","metric":"wind_speed","value":5.5,'
          b'"producer_ts":1700000000000}',)],
        "value binary",
    )
    decoded = kafka.decode_json_value(df, WEATHER_DATA)
    flat = kafka.flatten_payload(decoded)
    row = flat.collect()[0]
    assert row["stationId"] == 6013 and row["value"] == 5.5


def test_avro_schema_json_shape():
    import json

    s = json.loads(WEATHER_DATA_AVRO)
    assert s["name"] == "WeatherData"
    assert [f["name"] for f in s["fields"]][:2] == ["timeObserved", "stationId"]
    a = json.loads(AGGREGATED_WEATHER_AVRO)
    assert a["fields"][-1]["name"] == "processing_end_ts"


def test_latency_metrics_reference_convention(spark):
    """Nearest-rank percentile = sorted[(n*p).toInt] clamped
    (LatencyMonitor.scala:278-280), checked against a hand-computed
    fixture that includes dirty rows the validity filter must drop."""
    base = 1_700_000_000_000
    lat = [1000, 2000, 3000, 4000, 5000, 6000, 7000, 8000, 9000, 10000]
    rows = [(base, base + l) for l in lat]
    rows += [
        (base, base),                 # latency 0 → dropped
        (base, base + 700_000),       # ≥ 600000 → dropped
        (100, 200),                   # pre-2020 → dropped
    ]
    df = spark.createDataFrame(
        rows, "min_producer_ts long, processing_end_ts long"
    )
    valid = latency.valid_latency_points(df)
    assert valid.count() == 10
    m = latency.calculate_metrics(valid)
    assert m.sample_count == 10
    assert m.avg_ms == 5500.0
    # reference convention: idx = int(10*0.5) = 5 → sorted[5] = 6000
    assert m.p50_ms == 6000.0
    assert m.p95_ms == 10000.0  # int(9.5)=9 → last
    assert m.p99_ms == 10000.0
    assert abs(m.stddev_ms - 2872.2813) < 0.001  # population, N divisor

    rep = reports.text_report(m)
    assert "5500.00 ms" in rep and "excellent" in rep
    assert "%.2f" not in rep  # the reference's corrupted-format bug, fixed
    assert '"avg_ms": 5500.0' in reports.json_report(m)
    prom = reports.prometheus_text(m)
    assert "benchmark_latency_p99_ms 10000.0" in prom


_BASE_MS = 1_700_000_000_000
_LATENCY = st.one_of(st.integers(1, 8), st.integers(1, 599_999))  # ties, spread
_POINT = st.one_of(
    st.tuples(st.just(_BASE_MS), _LATENCY),
    # dirty: out of the validity bounds, pre-2020 producer ts, no end ts
    st.tuples(st.just(_BASE_MS), st.sampled_from([0, -3, 600_000, 900_000])),
    st.tuples(st.just(100), _LATENCY),
    st.tuples(st.just(_BASE_MS), st.none()),
)


@settings(max_examples=20, deadline=None)
@given(points=st.lists(_POINT, max_size=25))
@example(points=[])
@example(points=[(_BASE_MS, 7)])
@example(points=[(_BASE_MS, 5)] * 4 + [(_BASE_MS, 3), (_BASE_MS, 0)])
def test_latency_metrics_match_python_nearest_rank(spark, points):
    """calculate_metrics after the validity filter equals the monitor's
    arithmetic done in plain Python: 0-based floor(n·p) index into the
    sorted latencies, clamped to n-1; population stddev; zeros when no
    point is valid."""
    rows = [(s, None if lat is None else s + lat) for s, lat in points]
    df = spark.createDataFrame(rows, "min_producer_ts long, processing_end_ts long")
    m = latency.calculate_metrics(latency.valid_latency_points(df))
    xs = sorted(lat for s, lat in points if lat is not None and 0 < lat < 600_000
                and s > 1_577_836_800_000)  # 2020-01-01 UTC
    n = len(xs)

    def rank(p):
        return float(xs[min(int(n * p), n - 1)]) if xs else 0.0

    assert m.sample_count == n
    assert (m.p50_ms, m.p95_ms, m.p99_ms) == (rank(0.5), rank(0.95), rank(0.99))
    assert (m.min_ms, m.max_ms) == ((xs[0], xs[-1]) if xs else (0.0, 0.0))
    assert math.isclose(m.avg_ms, statistics.fmean(xs) if xs else 0.0, rel_tol=1e-12)
    assert math.isclose(m.stddev_ms, statistics.pstdev(xs) if xs else 0.0,
                        rel_tol=1e-9, abs_tol=1e-9)


def test_metrics_server_serves_prometheus_over_http(spark):
    """S15 serving parity (MetricsExporter.scala:16-84): a live HTTP
    endpoint returns the exposition text, re-reads its payload callable
    per request, 404s unknown paths, and shuts down cleanly."""
    import urllib.error
    import urllib.request

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(range(1000, 11000, 1000))],
        "id int, latency_ms long",
    )
    m = latency.calculate_metrics(df)
    state = {"m": m}
    srv = reports.MetricsServer(lambda: reports.prometheus_text(state["m"]))
    port = srv.start()
    try:
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ).read().decode()
        assert "benchmark_latency_avg_ms 5500.0" in body
        assert "# TYPE benchmark_latency_p99_ms gauge" in body
        # liveness endpoint
        ok = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/", timeout=5
        ).read()
        assert ok == b"ok\n"
        # payload is re-evaluated per request (harness swaps metrics
        # between bench queries without a server restart)
        state["m"] = latency.calculate_metrics(
            spark.createDataFrame(
                [(0, 100), (1, 300)], "id int, latency_ms long"
            )
        )
        body2 = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=5
        ).read().decode()
        assert "benchmark_latency_avg_ms 200.0" in body2
        try:
            urllib.request.urlopen(
                f"http://127.0.0.1:{port}/nope", timeout=5
            )
            raise AssertionError("unknown path must 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.stop()


def test_top_latency_windows(spark):
    df = spark.createDataFrame(
        [(i, 1000 * i) for i in range(1, 8)], "w int, latency_ms long"
    )
    top = latency.top_latency_windows(df, k=3).collect()
    assert [r["latency_ms"] for r in top] == [7000, 6000, 5000]


def test_streaming_latency_benchmark_short(spark):
    """E2E replay benchmark produces in-band metrics on a short run."""
    from sparkksqldbbenchmark_spark.bench.replay import run_latency_benchmark

    m = run_latency_benchmark(
        spark, rows_per_second=100, window_duration="5 seconds",
        trigger_interval="1 seconds", run_seconds=8,
    )
    assert m.sample_count > 0
    assert 0 < m.avg_ms < 60_000
    assert m.p99_ms >= m.p50_ms >= m.min_ms


def test_resource_sampler_math():
    """A11 sampler arithmetic (reference BenchmarkRunner.scala:96-146):
    tick deltas -> CPU percent, sample lists -> running avg + peak."""
    from sparkksqldbbenchmark_spark.bench.resources import (
        cpu_percent,
        summarize,
    )

    # 100 ticks at 100 Hz over 0.5 s wall = 1 full core busy for the
    # whole interval spread over... 100/100/0.5 = 2.0 cores -> 200%
    assert cpu_percent(1000, 1100, 10.0, 10.5, 100) == 200.0
    assert cpu_percent(1000, 1000, 10.0, 10.5, 100) == 0.0
    assert cpu_percent(1000, 1100, 10.0, 10.0, 100) == 0.0  # zero wall

    s = summarize([100.0, 300.0], [512.0, 1024.0])
    assert s == {
        "cpu_avg_pct": 200.0,
        "cpu_peak_pct": 300.0,
        "rss_avg_mb": 768.0,
        "rss_peak_mb": 1024.0,
        "samples": 2,
    }
    empty = summarize([], [])
    assert empty["samples"] == 0 and empty["cpu_avg_pct"] == 0.0


def test_resource_sampler_live():
    """The /proc-backed sampler observes this very process: RSS positive,
    CPU non-negative, at least one sample over a short busy loop."""
    import time

    from sparkksqldbbenchmark_spark.bench.resources import ResourceSampler

    s = ResourceSampler(interval=0.1).start()
    # sleep rather than busy-wait: a CPU-bound pytest main thread can
    # starve the sampler thread of the GIL for the whole window (convoy
    # effect); the real bench's work happens JVM-side where the sampler
    # thread samples freely
    time.sleep(0.6)
    out = s.stop()
    assert out["samples"] >= 1
    assert out["rss_avg_mb"] > 10  # a python+jvm tree is way above 10 MB
    assert out["cpu_peak_pct"] >= 0.0


def test_resources_prometheus_text():
    from sparkksqldbbenchmark_spark.bench.reports import (
        resources_prometheus_text,
    )

    txt = resources_prometheus_text(
        {
            "cpu_avg_pct": 150.0,
            "cpu_peak_pct": 300.0,
            "rss_avg_mb": 768.0,
            "rss_peak_mb": 1024.0,
            "samples": 7,
        }
    )
    assert "# TYPE benchmark_resource_cpu_avg_pct gauge" in txt
    assert "benchmark_resource_rss_peak_mb 1024.0" in txt
    assert "benchmark_resource_samples 7.0" in txt


def test_bench_compact_line_contract():
    """The driver parses ONLY the last stdout line from a ~2 kB tail
    capture (BENCH r08/r09 were 'parsed: null' because the full JSON's
    head truncated away). Pin the emission contract: valid single-line
    JSON, bounded size even with absurdly many headline queries, and
    the keys grading needs."""
    import json

    from bench import compact_line

    stream = {
        "avg_ms": 6203.1, "p50_ms": 6065.0, "p95_ms": 11948.0,
        "p99_ms": 11968.0, "stddev_ms": 3134.94, "samples": 300,
        "runs": [1, 2, 3], "config": "x" * 500,
    }
    full = {
        "metric": "headline_queries_total_wall",
        "value": 6.5,
        "unit": "sec",
        "queries": {f"q{i}": round(0.1 * i, 3) for i in range(12)},
        "sf": 0.1,
        "core_query_rows_per_sec": 240963,
        "streaming_e2e_latency": stream,
        "loadavg": {"start": [0.9, 2.4, 3.2], "end": [4.2, 4.5, 4.0]},
        "resources": {"cpu_avg_pct": 455.0},
        "extended_queries": {f"e{i}": 1.0 for i in range(11)},
    }
    line = compact_line(full)
    assert "\n" not in line
    assert len(line) <= 1900
    d = json.loads(line)
    assert d["value"] == 6.5 and d["sf"] == 0.1
    assert d["queries"] == full["queries"]
    assert set(d["streaming_e2e_latency"]) == {
        "avg_ms", "p50_ms", "p95_ms", "p99_ms", "stddev_ms"
    }
    assert d["full_report"] == "BENCH_local.json"
    # pathological: hundreds of headline queries must still fit by
    # dropping the per-query dict, never by overflowing the tail
    full["queries"] = {f"very_long_query_name_{i}": 1.234 for i in range(200)}
    line2 = compact_line(full)
    assert len(line2) <= 1900
    d2 = json.loads(line2)
    assert "queries" not in d2 and d2["value"] == 6.5
