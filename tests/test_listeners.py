"""Listener-based observed-metrics collection (streaming/listeners.py):
the per-batch totals must sum to the direct batch aggregate — the same
claim the graded observe rows make, here via the uncapped listener
channel — and the listener must only record its own query.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from sparkksqldbbenchmark_spark.streaming.listeners import (
    collect_observed_metrics,
)


def test_listener_totals_equal_direct_aggregate(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(5000).selectExpr(
        "id", "CAST(id % 7 AS STRING) AS bucket"
    ).write.parquet(src)

    stream = spark.readStream.schema("id long, bucket string").parquet(
        src
    )
    observed = stream.observe(
        "audit",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id").alias("id_sum"),
    )
    agg = observed.groupBy("bucket").count()
    name = f"lsn_{uuid.uuid4().hex[:8]}"

    def start():
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )

    batches = collect_observed_metrics(spark, "audit", start)
    assert batches, "no observed-metric batches collected"
    assert sum(int(b["n_rows"]) for b in batches) == 5000
    assert sum(int(b["id_sum"]) for b in batches) == sum(range(5000))


def test_listener_pre_pin_race_window():
    """Events delivered BEFORE the target query id is known (the listener
    registers before start_query() returns): a foreign query's progress
    must not pollute the rows, a foreign termination must not fire
    ``done``, and the target's own raced-ahead progress + termination
    must be adopted at pin time. Pure event-object test — no Spark."""
    from types import SimpleNamespace

    from sparkksqldbbenchmark_spark.streaming.listeners import (
        ObservedMetricsListener,
    )

    class Metric:
        def __init__(self, d):
            self._d = d

        def asDict(self):
            return dict(self._d)

    def progress_event(qid, n):
        return SimpleNamespace(
            progress=SimpleNamespace(
                id=qid, observedMetrics={"audit": Metric({"n_rows": n})}
            )
        )

    lsn = ObservedMetricsListener("audit")
    # race window: target id unknown, two queries emit progress
    lsn.onQueryProgress(progress_event("target-q", 10))
    lsn.onQueryProgress(progress_event("other-q", 99))
    # a foreign termination during the window must stay pending-only
    lsn.onQueryTerminated(SimpleNamespace(id="other-q"))
    assert not lsn.done.is_set()

    lsn.pin_query_id("target-q")
    assert lsn.rows == [{"n_rows": 10}]  # target buffered row adopted
    assert not lsn.done.is_set()  # other-q's termination discarded

    # post-pin: foreign events ignored, target events honored
    lsn.onQueryProgress(progress_event("other-q", 7))
    lsn.onQueryProgress(progress_event("target-q", 20))
    lsn.onQueryTerminated(SimpleNamespace(id="other-q"))
    assert not lsn.done.is_set()
    lsn.onQueryTerminated(SimpleNamespace(id="target-q"))
    assert lsn.done.is_set()
    assert lsn.rows == [{"n_rows": 10}, {"n_rows": 20}]

    # the raced-ahead TARGET termination variant: pending at pin → done
    lsn2 = ObservedMetricsListener("audit")
    lsn2.onQueryTerminated(SimpleNamespace(id="target-q"))
    assert not lsn2.done.is_set()
    lsn2.pin_query_id("target-q")
    assert lsn2.done.is_set()


def test_listener_scopes_to_its_own_query(spark, tmp_path):
    """Two observed queries running in the same session: each
    collection sees only its own query's batches."""
    src = str(tmp_path / "src2")
    spark.range(100).selectExpr("id").write.parquet(src)

    def start_for(tag):
        stream = spark.readStream.schema("id long").parquet(src)
        observed = stream.observe(
            "audit", F.count(F.lit(1)).alias("n_rows")
        )
        return (
            observed.groupBy().count()
            .writeStream.format("memory")
            .queryName(f"lsn2_{tag}_{uuid.uuid4().hex[:6]}")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )

    a = collect_observed_metrics(spark, "audit", lambda: start_for("a"))
    b = collect_observed_metrics(spark, "audit", lambda: start_for("b"))
    assert sum(int(x["n_rows"]) for x in a) == 100
    assert sum(int(x["n_rows"]) for x in b) == 100


def test_collect_timeout_raises_and_stops(spark, tmp_path):
    """A query that cannot finish within await_seconds is stopped and
    raises TimeoutError instead of returning partial per-batch rows."""
    import time

    import pytest

    src = str(tmp_path / "src")
    spark.range(6).repartition(3).write.parquet(src)

    @F.udf("long")
    def slow(x):
        time.sleep(2)
        return x

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(slow("id").alias("id"))
        .observe("audit", F.count(F.lit(1)).alias("n_rows"))
    )
    name = f"lsn_timeout_{uuid.uuid4().hex[:8]}"

    def start():
        return (
            stream.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(TimeoutError, match="PARTIAL"):
        collect_observed_metrics(spark, "audit", start, await_seconds=1)
    assert name not in {q.name for q in spark.streams.active}
