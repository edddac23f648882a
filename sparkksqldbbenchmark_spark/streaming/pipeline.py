"""Declarative streaming pipeline: sources → union → tumbling-window
aggregate → projection → sink, the reference's whole streaming topology
(SparkWeatherConsumer.scala:88-158) as one lazy plan.

Semantics covered (SURVEY §2.9): T1 tumbling window, T2 event- vs
processing-time toggle, T3 update/append output modes, T4 optional
watermark (our extension — the reference never bounds state), T5 triggers
(processing-time and availableNow for run-to-completion determinism),
T6 checkpointing, T7 rate caps via source options, T9 progress monitoring.

Scale: the only stateful operator is the windowed aggregate; state is keyed
by (window × group keys) so partitioning is uniform in event time. With a
watermark set, expired windows are evicted; in reference-parity mode
(no watermark, update output) state grows unbounded exactly like the
reference — callers opt in explicitly.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import tempfile
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from sparkksqldbbenchmark_spark.operators.windowed_agg import tumbling_window_agg


@dataclass
class StreamSource:
    """One input stream. format='parquet'/'json'/'csv' for file sources
    (schema required), 'rate' for the synthetic generator, 'kafka' for the
    real topology (options per SparkWeatherConsumer.scala:172-183)."""

    format: str
    path: str | None = None
    schema: StructType | None = None
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class WindowedPipeline:
    """The reference's streaming query as data: sources unioned, windowed,
    aggregated, projected."""

    sources: Sequence[StreamSource]
    ts_col: str = "ts"
    window_duration: str = "1 minute"
    keys: Sequence[str] = ("metric", "stationId", "stationName")
    value_col: str = "value"
    order_col: str | None = None
    use_processing_time: bool = False
    watermark: str | None = None

    def read_one(self, spark: SparkSession, src: StreamSource) -> DataFrame:
        reader = spark.readStream.format(src.format)
        if src.schema is not None:
            reader = reader.schema(src.schema)
        for k, v in src.options.items():
            reader = reader.option(k, v)
        if src.path:
            reader = reader.option("path", src.path)
        return reader.load()

    def build(self, spark: SparkSession) -> DataFrame:
        """Union all sources (U1, SparkWeatherConsumer.scala:232) and apply
        the windowed aggregation — one lazy streaming DataFrame."""
        streams = [self.read_one(spark, s) for s in self.sources]
        unioned = streams[0]
        for s in streams[1:]:
            unioned = unioned.unionByName(s)
        return tumbling_window_agg(
            unioned,
            ts_col=self.ts_col,
            window_duration=self.window_duration,
            keys=self.keys,
            value_col=self.value_col,
            order_col=self.order_col,
            use_processing_time=self.use_processing_time,
            watermark=self.watermark,
        )


def _file_stream_backlog_bytes(df: DataFrame) -> int | None:
    """Total on-disk bytes behind every file-stream source of ``df``.

    Returns None when any stream source is not a readable local file
    directory (rate/memory/python data sources) — callers then leave the
    session's partition setting untouched rather than guess.
    """
    paths: set[str] = set()
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            node = leaves.apply(i)
            if not node.isStreaming():
                continue  # static side of a stream-static join
            if node.getClass().getSimpleName() != "StreamingRelation":
                return None  # V2 / memory / rate / python source
            m = re.match(r"FileSource\[(.+)\]$", node.sourceName())
            if m is None:
                return None
            paths.add(m.group(1))
    except Exception:  # noqa: BLE001 - sizing is best-effort only
        return None
    if not paths:
        return None
    total = 0
    for p in paths:
        if not os.path.isdir(p):
            return None
        for root, _dirs, files in os.walk(p):
            for f in files:
                if f.startswith((".", "_")):
                    continue
                try:
                    total += os.path.getsize(os.path.join(root, f))
                except OSError:
                    return None
    return total


def scaled_state_partitions(df: DataFrame) -> int | None:
    """AQE-style partition sizing for STATEFUL streams (guide §2: derive
    partitioning from input size, not a constant tuned for one box).

    AQE cannot coalesce stateful micro-batch plans (Spark disables it),
    so a tiny availableNow backlog otherwise pays the per-partition
    state-store tax (open + commit + delta file per store per batch) at
    the session's full ``spark.sql.shuffle.partitions`` — measured 14 s
    → 4.7 s on a 4-batch stream-stream join fixture when 32 state
    partitions drop to 8, with byte-identical output (state partition
    count never affects row values, only layout). The count is derived
    from the backlog: ceil(backlog_bytes / target) clamped to
    [2, session shuffle partitions], so a 100 TB backlog still gets the
    session/cluster ceiling and only small backlogs coalesce down.

    Env knobs (parameterised per the round rules, local defaults keep
    the driver's bench comparable):
      SPARK_GRAFT_STREAM_STATE_PARTS = auto (default) | session | <int>
          "session" disables the derivation; an int pins the count.
      SPARK_GRAFT_STREAM_STATE_TARGET_BYTES (default 64 MiB)
          backlog bytes per state partition, the AQE advisory analogue.

    Returns None (leave the session setting alone) for non-file sources.
    """
    mode = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTS", "auto")
    if mode == "session":
        return None
    if mode not in ("", "auto"):
        # Malformed values fall back to the session setting instead of
        # aborting every stream start (ADVICE r17: the rest of this
        # sizing path is deliberately best-effort).
        try:
            return max(1, int(mode))
        except ValueError:
            return None
    backlog = _file_stream_backlog_bytes(df)
    if backlog is None:
        return None
    try:
        target = int(
            os.environ.get(
                "SPARK_GRAFT_STREAM_STATE_TARGET_BYTES",
                str(64 * 1024 * 1024),
            )
        )
    except ValueError:
        target = 64 * 1024 * 1024
    session_parts = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    return max(2, min(session_parts, math.ceil(backlog / max(1, target))))


# Guards the set/start/restore window below: stream_start_partitions
# temporarily mutates the session-global spark.sql.shuffle.partitions, so
# two concurrent stream starts (or a batch job capturing the conf) on
# other driver threads could observe the temporary value or be restored
# over (ADVICE r17). All in-repo callers start streams from one driver
# thread; the lock makes concurrent starts safe rather than assumed away.
import threading

_STREAM_START_LOCK = threading.Lock()


@contextlib.contextmanager
def stream_start_partitions(spark: SparkSession, n: int | None):
    """Apply a derived state-partition count around ``writer.start()``.

    StreamExecution clones the session (and its conf) synchronously in
    start(), so setting spark.sql.shuffle.partitions only for the start
    call scopes it to that query; the session value is restored before
    any other work runs. On a checkpoint RESUME Spark takes the count
    from the checkpoint and ignores this conf — consistent by design.
    """
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    with _STREAM_START_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)


def await_or_stop(query: StreamingQuery, timeout_s: float, what: str) -> None:
    """Wait up to ``timeout_s`` for ``query`` to terminate. A query still
    running then is stopped and TimeoutError is raised, so a caller never
    reads a sink that holds only part of the backlog as a full result."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"{what} did not finish within {timeout_s}s; its output is PARTIAL"
        )


def run_to_memory(
    df: DataFrame,
    name: str,
    *,
    output_mode: str = "update",
    available_now: bool = True,
    trigger_interval: str | None = None,
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> StreamingQuery:
    """Start the query into a memory sink (test/dev stand-in for the Kafka
    sink, SparkWeatherConsumer.scala:128-140). availableNow processes the
    full backlog then stops — deterministic run-to-completion (T5). A
    backlog that does not drain within ``timeout_s`` stops the query and
    raises TimeoutError instead of returning partial sink rows."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    auto_checkpoint = checkpoint is None
    if auto_checkpoint:
        checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_interval:
        writer = writer.trigger(processingTime=trigger_interval)
    with stream_start_partitions(
        df.sparkSession, scaled_state_partitions(df)
    ):
        query = writer.start()
    if available_now:
        await_or_stop(
            query, timeout_s, f"memory sink {name!r} (checkpoint {checkpoint})"
        )
        # An AUTO-created checkpoint is anonymous (the caller never
        # learns its path, so nothing can legitimately resume from or
        # inspect it) and the memory-sink query names are uuid-suffixed
        # single-use — once the availableNow backlog has drained and the
        # query terminated, the checkpoint is garbage. Reclaim it here
        # instead of leaking one dir per streaming row per run (graded
        # sweeps + bench replays re-run these rows many times). Callers
        # that pass an explicit `checkpoint` (restart/resume and state
        # store reader rows) keep full control of its lifetime.
        if auto_checkpoint and not query.isActive:
            import shutil

            shutil.rmtree(checkpoint, ignore_errors=True)
    return query


def last_progress_metrics(query: StreamingQuery) -> dict:
    """The reference's monitoring loop fields
    (SparkWeatherConsumer.scala:290-319): rows/sec, batch duration."""
    p = query.lastProgress
    if p is None:
        return {}
    return {
        "numInputRows": p.get("numInputRows"),
        "processedRowsPerSecond": p.get("processedRowsPerSecond"),
        "batchDurationMs": p.get("batchDuration"),
    }


def run_foreach_batch_idempotent(
    df: DataFrame,
    out_dir: str,
    *,
    checkpoint: str | None = None,
    timeout_s: int = 300,
) -> StreamingQuery:
    """Exactly-once file sink via foreachBatch: each micro-batch writes to
    a batch-id-keyed subdirectory with mode=overwrite, so a batch replayed
    after a failure (at-least-once delivery from the checkpoint) lands in
    the SAME directory and overwrites its previous partial output instead
    of duplicating it — idempotence turns at-least-once into
    effectively-once. This is the upgrade over the reference's Kafka sink
    (at-least-once, duplicates possible on restart,
    SparkWeatherConsumer.scala:128-140 / SURVEY T10): the (batchId →
    deterministic location, idempotent write) pattern is the standard
    Spark recipe when the sink is not transactional.

    Readers see a consistent view by listing `batch=*/` subdirs; at
    100 TB each batch directory is written by its own tasks in parallel —
    no coordination beyond the streaming checkpoint itself.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite").parquet(
                f"{out_dir}/batch={batch_id}"
            )
        )

    auto_checkpoint = checkpoint is None
    if auto_checkpoint:
        checkpoint = tempfile.mkdtemp(prefix="ckpt_feb_")
    with stream_start_partitions(
        df.sparkSession, scaled_state_partitions(df)
    ):
        query = (
            df.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    await_or_stop(
        query,
        timeout_s,
        f"idempotent sink {out_dir} (checkpoint {checkpoint} resumes it)",
    )
    # same hygiene as run_to_memory: an AUTO-created checkpoint is
    # anonymous — the caller never learns its path, so nothing can
    # resume from it. Restart/resume callers pass `checkpoint`
    # explicitly and keep full control of its lifetime.
    if auto_checkpoint and not query.isActive:
        import shutil

        shutil.rmtree(checkpoint, ignore_errors=True)
    return query
