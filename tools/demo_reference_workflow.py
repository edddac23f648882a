"""Executable walkthrough of the reference's full benchmark workflow on
this engine — the "switch from the reference" story in one script:

  1. rate-limited producer replay (KafkaWeatherProducer equivalent)
  2. two-metric stream union → 10 s tumbling-window aggregation,
     2 s processing-time trigger, update mode (SparkWeatherConsumer)
  3. sink-side latency monitoring (LatencyMonitor)
  4. text + JSON + Prometheus reports (MetricsExporter)

Run: python tools/demo_reference_workflow.py  (~25 s)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkksqldbbenchmark_spark.bench.replay import run_latency_benchmark
from sparkksqldbbenchmark_spark.bench.reports import (
    json_report,
    prometheus_text,
    text_report,
)
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark


def main() -> None:
    spark = get_spark(
        SessionConfig(app_name="reference-workflow-demo", aqe=False,
                      shuffle_partitions=8)
    )
    print("producing 200 rows/s × 20 s through the windowed pipeline...",
          file=sys.stderr)
    metrics = run_latency_benchmark(
        spark,
        rows_per_second=200,
        window_duration="10 seconds",
        trigger_interval="2 seconds",
        run_seconds=20,
    )
    print(text_report(metrics, title="WEATHER PIPELINE LATENCY REPORT"))
    print("\n--- JSON export (S16) ---")
    print(json_report(metrics))
    print("\n--- Prometheus exposition (S15) ---")
    print(prometheus_text(metrics))


if __name__ == "__main__":
    main()
