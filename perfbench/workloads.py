"""The benchmark's workloads and the traced run's layer probes.

Each workload returns (attempted, failed, end_to_end metrics, diagnostics);
with tracing on it also fills ``ctx.layer`` with the per-layer metrics.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import functions as F

import gen
import measure
from spans import Tracer, run_and_count_shuffle, self_time_by_layer

# Batch query set: the reference-parity analytics plus the two curation
# queries whose DuckDB oracles run in about a second (see README.md). The
# cold pass runs and checks all of them.
REFERENCE_QUERIES = (
    "weather_window_agg", "weather_window_agg_by_station", "union_streams_agg",
    "latency_percentiles", "multiway_timejoin_ffill", "per_station_accumulation",
    "ksql_windowed_table", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
)
CURATION_QUERIES = ("similarity_topk_cosine", "text_quality_scores")
BATCH_QUERIES = REFERENCE_QUERIES + CURATION_QUERIES
BATCH_SF = 0.1
# The timed rounds run one query per layer (sql front door and windowing,
# relational joins, the llm Arrow/Python boundary), so that a round takes
# 2-3 s and a run holds four to six. Each maps to the tables it scans:
# its input rows per round.
QUERY_TABLES = {
    "ksql_windowed_table": ("events",),
    "tpch_q3_shipping_priority": ("customer", "orders", "lineitem"),
    "similarity_topk_cosine": ("embeddings",),
}
TIMED_QUERIES = tuple(QUERY_TABLES)

# A cold window, present before the query starts, is taken by its first
# (unscheduled) batch; one scheduled warm-up window then locks the phase.
WARMUP_WINDOWS = 1
COLD_WINDOW = 10**6  # value-seed index of the cold window, apart from 0..n


@dataclass
class Context:
    work: str
    seed: int
    seconds: int
    tracer: Tracer
    t0: float  # wall time the process started
    excluded_s: float = 0.0  # harness time since t0 that set-up leaves out
    layer: dict = field(default_factory=dict)
    notes: dict = field(default_factory=dict)  # traced-run attributions
    java_pid: int = 0

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def cpu_s(self) -> float:
        return measure.tree_cpu_s(measure.read_proc_stats(), self.java_pid)


# ------------------------------------------------------------------ session --


def engine_slots() -> int:
    """Task slots: one core is left to the generator (avro-fresh) and to the
    JVM's JIT and GC threads, so they do not take turns with tasks."""
    return max(1, measure.nproc() - 1)


def start_engine(ctx: Context):
    from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

    slots = engine_slots()
    tmp = os.path.join(ctx.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = SessionConfig(
        app_name="perfbench",
        master=f"local[{slots}]",
        shuffle_partitions=slots,
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    t = time.time()
    with ctx.tracer.span("get_spark", "session"):
        spark = get_spark(conf)
    ctx.layer["session.get_spark_s"] = time.time() - t
    spark.sparkContext.setLogLevel("ERROR")
    ctx.java_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    t = time.time()
    with ctx.tracer.span("first_job", "session"):
        spark.range(1).count()
    ctx.layer["session.first_job_s"] = time.time() - t
    t = time.time()
    with ctx.tracer.span("first_python", "session"):
        spark.range(1).mapInPandas(lambda it: it, "id long").count()
    ctx.layer["session.first_python_s"] = time.time() - t
    return spark


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -------------------------------------------------------------- avro stream --


def weather_stream(spark, dirs: list[str], max_files_per_trigger: int | None = None):
    """File source -> Avro decode -> flatten, per topic; then unionByName."""
    from sparkksqldbbenchmark_spark.schemas import WEATHER_DATA_AVRO
    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        flatten_payload,
    )

    reader = spark.readStream.schema("value binary")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    flats = [
        flatten_payload(decode_avro_value(reader.parquet(d), WEATHER_DATA_AVRO))
        for d in dirs
    ]
    unioned = flats[0]
    for f in flats[1:]:
        unioned = unioned.unionByName(f)
    return unioned


def window_agg(df, plan: gen.WeatherPlan):
    from sparkksqldbbenchmark_spark.operators.windowed_agg import tumbling_window_agg

    return tumbling_window_agg(
        df.withColumn("ts", F.timestamp_millis("producer_ts")),
        window_duration=f"{plan.trigger_s} seconds",
        keys=("metric", "stationId"),
        order_col="producer_ts",
        watermark="1 second",
    )


def _epoch_s(window_start: str) -> float:
    return datetime.strptime(window_start, "%Y-%m-%d %H:%M:%S").replace(
        tzinfo=timezone.utc).timestamp()


def _iso_s(ts: str) -> float:
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def files_per_batch(checkpoint: str) -> dict[int, int]:
    """Files each batch took, from the file sources' metadata logs."""
    out: dict[int, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            with open(path) as f:
                out[int(name)] = out.get(int(name), 0) + sum(
                    1 for line in f if line.startswith("{"))
    return out


def stream_layer_metrics(ctx: Context, progress: list[dict], files: dict[int, int],
                         lags_ms: list[float]) -> None:
    def p50(key):
        return statistics.median(p["durationMs"].get(key, 0) for p in progress)

    state = [p["stateOperators"][0] for p in progress]
    ctx.layer.update({
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.get_batch_ms_p50": p50("getBatch"),
        "sources.files_per_batch": statistics.median(
            files.get(p["batchId"], 0) for p in progress),
        "streaming.trigger_ms_p50": p50("triggerExecution"),
        "streaming.add_batch_ms_p50": p50("addBatch"),
        "streaming.query_planning_ms_p50": p50("queryPlanning"),
        "streaming.wal_commit_ms_p50": p50("walCommit"),
        "streaming.commit_offsets_ms_p50": p50("commitOffsets"),
        "streaming.trigger_start_lag_ms_p50": statistics.median(lags_ms),
        "streaming.state_commit_ms_p50": statistics.median(s["commitTimeMs"] for s in state),
        "streaming.state_rows_total": state[-1]["numRowsTotal"],
        "streaming.state_memory_bytes": state[-1]["memoryUsedBytes"],
        "streaming.state_partitions": state[-1].get("numShufflePartitions", 0),
        "streaming.batches": len(progress),
    })
    # Micro-batch phases as spans, laid out in execution order from the
    # batch start. addBatch holds the decode (estimated from the static
    # probe's per-row cost) and the state commit; the rest of it is operator
    # work and the sink.
    decode_ms_per_row = ctx.layer.get("sources.decode_ms_per_krow", 0) / 1000
    per_batch = []
    for p, s in zip(progress, state):
        first = len(ctx.tracer.spans)
        start = _iso_s(p["timestamp"])
        d = p["durationMs"]
        parent = ctx.tracer.add("trigger", "streaming", start,
                                start + d["triggerExecution"] / 1000, batch=p["batchId"])
        t = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
            dur = d.get(phase, 0) / 1000
            layer = {"latestOffset": "sources", "getBatch": "sources",
                     "addBatch": "operators"}.get(phase, "streaming")
            sid = ctx.tracer.add(phase, layer, t, t + dur, parent)
            if phase == "addBatch":
                dec = min(dur, decode_ms_per_row * p["numInputRows"] / 1000)
                ctx.tracer.add("decode_avro_value(est)", "sources", t, t + dec, sid)
                com = min(dur - dec, s["commitTimeMs"] / 1000)
                ctx.tracer.add("state_commit", "streaming", t + dec, t + dec + com, sid)
            t += dur
        per_batch.append(self_time_by_layer(ctx.tracer.spans[first:]))
    ctx.notes["batch_self_ms_p50"] = {
        layer: statistics.median(b.get(layer, 0) for b in per_batch) * 1000
        for layer in ("sources", "operators", "streaming")}


def run_avro_fresh(ctx: Context):
    plan = gen.WeatherPlan()
    n_meas = max(2, ctx.seconds // plan.trigger_s)
    n_win = WARMUP_WINDOWS + n_meas
    g = time.time()
    dirs = [os.path.join(ctx.work, "in", t) for t in gen.TOPICS]
    for d in dirs:
        os.makedirs(d)
    cold_start = measure.next_trigger_s(time.time(), plan.trigger_s) - 60
    for j, (_, topic, data) in enumerate(gen.window_files(plan, ctx.seed, COLD_WINDOW, cold_start)):
        gen.write_file_atomically(dirs[gen.TOPICS.index(topic)], f"cold-{j:02d}.parquet", data)
    ctx.excluded_s += time.time() - g
    spark = start_engine(ctx)
    ckpt = os.path.join(ctx.work, "ckpt")
    emitted: list[tuple[int, float, float, list]] = []
    done = threading.Event()
    last_window_start = [math.inf]
    last_batch = [math.inf]

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        t = time.time()
        emitted.append((batch_id, t, ctx.cpu_s(), rows))
        if any(_epoch_s(r["window_start"]) >= last_window_start[0] for r in rows):
            last_batch[0] = batch_id
            done.set()

    with ctx.tracer.span("build_pipeline", "sources"):
        stream = weather_stream(spark, dirs)
    with ctx.tracer.span("tumbling_window_agg", "operators"):
        agg = window_agg(stream, plan)
    with ctx.tracer.span("start_query", "streaming"):
        query = (agg.writeStream.foreachBatch(sink).outputMode("update")
                 .option("checkpointLocation", ckpt)
                 .trigger(processingTime=f"{plan.trigger_s} seconds").start())
    t_started = time.time()

    # Input generation (not set-up): pre-encode every window's files against
    # an epoch-aligned schedule far enough ahead to finish encoding and the
    # cold batch first.
    start0 = measure.next_trigger_s(time.time() + 3.0 + 0.3 * n_win, plan.trigger_s)
    last_window_start[0] = start0 + (n_win - 1) * plan.trigger_s
    schedule = []
    for m in range(n_win):
        ws = start0 + m * plan.trigger_s
        for j, (off, topic, data) in enumerate(gen.window_files(plan, ctx.seed, m, ws)):
            schedule.append((ws + off, f"w{m:04d}-{j:02d}.parquet",
                             dirs[gen.TOPICS.index(topic)], data))
    schedule.sort()
    lateness: list[float] = []

    def generate():
        for due, name, d, data in schedule:
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            gen.write_file_atomically(d, name, data)
            lateness.append(time.time() - due)

    gen_thread = threading.Thread(target=generate, name="generator")
    gen_thread.start()
    deadline = last_window_start[0] + plan.trigger_s + 60
    done.wait(timeout=max(1.0, deadline - time.time()))
    gen_thread.join()
    while time.time() < deadline and (
            query.lastProgress or {}).get("batchId", -1) < last_batch[0]:
        time.sleep(0.05)  # the last batch reports its progress after the sink
    query.stop()
    progress = {p["batchId"]: p for p in query.recentProgress}
    files = files_per_batch(ckpt)

    # Correctness and latency, per final emission of each measured window row.
    final: dict[tuple, tuple] = {}
    window_batch: dict[int, tuple[int, float, float]] = {}
    for batch_id, t, cpu, rows in emitted:
        for r in rows:
            m = round((_epoch_s(r["window_start"]) - start0) / plan.trigger_s)
            final[(m, r["metric"], r["stationId"])] = (t, r)
            window_batch[m] = (batch_id, t, cpu)
    failed = 0
    latencies_ms: list[float] = []
    points: list[tuple[int, int]] = []
    for m in range(WARMUP_WINDOWS, n_win):
        ws = start0 + m * plan.trigger_s
        for (metric, station), (cnt, mn, mx, avg) in gen.expected_rows(
                plan, ctx.seed, m).items():
            got = final.get((m, metric, station))
            if got is None:
                failed += 1
                continue
            t, r = got
            if (r["message_count"], r["min_value"], r["max_value"]) != (cnt, mn, mx) \
                    or not math.isclose(r["avg_value"], avg, rel_tol=1e-12):
                failed += 1
                continue
            newest = ws + plan.newest_event_offset_s(station, r["message_count"])
            latencies_ms.append((t - newest) * 1000)
            points.append((math.floor(newest * 1000), math.floor(t * 1000)))
    attempted = n_meas * len(gen.TOPICS) * plan.stations

    # The reference monitor over the same points must agree with plain Python.
    attempted += 1
    mon = monitor_ms(ctx, spark, points)
    plain = [e - s for s, e in points]
    if not plain or (mon.sample_count, mon.p50_ms, mon.p95_ms, mon.p99_ms) != (
            len(plain), measure.nearest_rank(plain, 0.5),
            measure.nearest_rank(plain, 0.95), measure.nearest_rank(plain, 0.99)):
        failed += 1

    # Set-up covers the engine start and every batch before the measured ones.
    measured_batches = sorted({window_batch[m][0] for m in range(WARMUP_WINDOWS, n_win)
                               if m in window_batch})
    by_id = {b: (t, cpu) for b, t, cpu, _ in emitted}
    warm_id = measured_batches[0] - 1 if measured_batches else None
    warm = by_id.get(warm_id)
    last = by_id.get(measured_batches[-1]) if measured_batches else None
    rows = n_meas * len(gen.TOPICS) * plan.events_per_window
    # How late each measured window's batch started against the trigger
    # scheduled for it. A batch over one interval late means the engine fell
    # behind the phase lock (its results are still checked above); the
    # count is reported with every run.
    lags_ms = [lag * 1000 for lag in measure.trigger_lags_s(
        {m: _iso_s(progress[b]["timestamp"]) for m, (b, _, _) in window_batch.items()
         if m >= WARMUP_WINDOWS and b in progress},
        start0, plan.trigger_s).values()]
    late = sum(lag > plan.trigger_s * 1000 for lag in lags_ms)
    warm_batches = [b for b in progress if warm and b <= warm_id]
    setup_s = (t_started - ctx.t0 - ctx.excluded_s) + sum(
        progress[b]["durationMs"]["triggerExecution"] for b in warm_batches) / 1000
    metrics = {"setup_s": setup_s, "latency_p50_ms": statistics.median(latencies_ms)}
    if warm and last and last[0] > warm[0]:
        # Rows over the wall time from when the first measured event was due
        # to the last emission; the CPU from the warm-up batch's emission on
        # covers every measured batch whatever its timing.
        first_due = start0 + WARMUP_WINDOWS * plan.trigger_s
        metrics["rows_per_s"] = rows / (last[0] - first_due)
        metrics["cpu_s_per_krow"] = (last[1] - warm[1]) / (rows / 1000)
    metrics["peak_rss_mb"] = measure.tree_peak_rss_mb(ctx.java_pid)
    p90 = measure.supported_percentile(latencies_ms, 0.9)
    diag = {
        "latency_samples": len(latencies_ms),
        "latency_p90_ms": p90,
        "measured_batches": len(measured_batches),
        "batches_started_over_one_interval_late": late,
        "trigger_start_lag_ms": measure.summary(lags_ms),
        "generator_lateness_ms": measure.summary([x * 1000 for x in lateness]),
        "monitor": {"p50": mon.p50_ms, "p95": mon.p95_ms, "p99": mon.p99_ms,
                    "n": mon.sample_count},
    }
    if ctx.traced:
        meas = [progress[b] for b in measured_batches if b in progress]
        probe_sources_operators(ctx, spark)
        probe_sql(ctx, spark)
        stream_layer_metrics(ctx, meas, files, lags_ms)
        tables = os.path.join(ctx.work, "tables")
        gen.write_batch_tables(tables, ctx.seed, BATCH_SF)
        for q in BATCH_QUERIES:
            build, execute, n = time_query(ctx, spark, q, tables, collect=True)
            record_plan_metrics(ctx, q, build, execute, n)
    stop_engine(spark)
    return attempted, failed, metrics, diag


def monitor_ms(ctx: Context, spark, points: list[tuple[int, int]]):
    """Run the reference latency monitor over (start_ms, end_ms) points and
    record its time as bench.monitor_ms."""
    from sparkksqldbbenchmark_spark.bench.latency import (
        calculate_metrics,
        valid_latency_points,
    )

    pts = spark.createDataFrame(points, "min_producer_ts long, processing_end_ts long")
    t = time.time()
    with ctx.tracer.span("calculate_metrics", "bench"):
        mon = calculate_metrics(valid_latency_points(pts))
    ctx.layer["bench.monitor_ms"] = (time.time() - t) * 1000
    return mon


# -------------------------------------------------------------------- batch --


def query_layer(q: str) -> str:
    return "llm" if q in CURATION_QUERIES else "plans"


def time_query(ctx: Context, spark, q: str, tables: str, collect: bool = False):
    """Build one registered query, then run it: to Arrow when ``collect``,
    else to the no-op sink. Returns (build_s, execute_s, result)."""
    import __spark_entry__

    fn = __spark_entry__.queries()[q]
    t0 = time.time()
    with ctx.tracer.span(f"{q}.build", query_layer(q)):
        df = fn(spark, tables)
    t1 = time.time()
    with ctx.tracer.span(f"{q}.execute", query_layer(q)):
        result = df.toArrow() if collect else noop(df)
    t2 = time.time()
    return t1 - t0, t2 - t1, result


def record_plan_metrics(ctx: Context, q: str, build_s: float, execute_s: float,
                        result) -> None:
    ctx.layer[f"plans.{q}.build_ms"] = build_s * 1000
    ctx.layer[f"plans.{q}.execute_ms"] = execute_s * 1000
    ctx.layer[f"plans.{q}.rows"] = result.num_rows


def oracle_failures(tables: str, results: dict) -> int:
    """Compare each query's rows with its DuckDB oracle by the canonical
    order-insensitive row hash of tools/check_correctness."""
    import duckdb

    import __spark_entry__
    from tools.check_correctness import canon_rows

    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for path in glob.glob(os.path.join(tables, "*.parquet")):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    failed = 0
    for q, table in results.items():
        res = con.execute(oracles[q])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        scols = table.column_names
        srows = list(zip(*(c.to_pylist() for c in table.columns)))
        if sorted(scols) != sorted(ocols) or \
                canon_rows(scols, srows)[0] != canon_rows(ocols, orows)[0]:
            failed += 1
    con.close()
    return failed


def run_batch(ctx: Context):
    tables = os.path.join(ctx.work, "tables")
    g = time.time()
    counts = gen.write_batch_tables(tables, ctx.seed, BATCH_SF)
    ctx.excluded_s += time.time() - g
    spark = start_engine(ctx)
    failed = 0
    results = {}
    for q in BATCH_QUERIES:  # warm-up pass; its rows feed the oracle check
        try:
            results[q] = time_query(ctx, spark, q, tables, collect=True)[2]
        except Exception as exc:  # counted as failed with the oracle check
            print(f"query {q} failed: {exc}", flush=True)
    # A second warm-up round of the timed queries: their first run after the
    # cold pass is up to 40% slower than the ones after it.
    attempted = 0
    for q in TIMED_QUERIES:
        attempted += 1
        try:
            time_query(ctx, spark, q, tables)
        except Exception as exc:
            print(f"query {q} failed: {exc}", flush=True)
            failed += 1
    setup_s = time.time() - ctx.t0 - ctx.excluded_s

    rows_per_round = sum(counts[t] for q in TIMED_QUERIES for t in QUERY_TABLES[q])
    rounds: list[float] = []
    spans_ms: list[tuple[int, int]] = []
    per_query: dict[str, list[tuple[float, float]]] = {q: [] for q in TIMED_QUERIES}
    cpu0, t_begin = ctx.cpu_s(), time.time()
    while time.time() - t_begin < ctx.seconds:
        r0 = time.time()
        with ctx.tracer.span("round", "bench"):
            for q in TIMED_QUERIES:
                attempted += 1
                try:
                    b, e, _ = time_query(ctx, spark, q, tables)
                    per_query[q].append((b, e))
                except Exception as exc:
                    print(f"query {q} failed: {exc}", flush=True)
                    failed += 1
        rounds.append(time.time() - r0)
        spans_ms.append((math.floor(r0 * 1000), math.floor(time.time() * 1000)))
    cpu1, t_end = ctx.cpu_s(), time.time()
    peak = measure.tree_peak_rss_mb(ctx.java_pid)

    if ctx.traced:
        for q in BATCH_QUERIES:
            if q not in results:
                continue
            if per_query.get(q):
                b = statistics.median(x[0] for x in per_query[q])
                e = statistics.median(x[1] for x in per_query[q])
            else:  # checked but not timed in the rounds: one warm run
                b, e, _ = time_query(ctx, spark, q, tables)
            record_plan_metrics(ctx, q, b, e, results[q])
        ctx.notes["plans_build_plus_execute_ms"] = sum(
            ctx.layer.get(f"plans.{q}.{k}_ms", 0)
            for q in TIMED_QUERIES for k in ("build", "execute"))
        ctx.notes["round_ms_p50"] = statistics.median(rounds) * 1000
        probe_sources_operators(ctx, spark)
        probe_sql(ctx, spark)
        probe_stream(ctx, spark)
        monitor_ms(ctx, spark, spans_ms)
    stop_engine(spark)

    attempted += len(BATCH_QUERIES)
    t = time.time()
    failed += len(BATCH_QUERIES) - len(results) + oracle_failures(tables, results)
    oracle_s = time.time() - t
    n_rounds = len(rounds)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_ms": statistics.median(rounds) * 1000,
        "rows_per_s": rows_per_round * n_rounds / (t_end - t_begin),
        "cpu_s_per_krow": (cpu1 - cpu0) / (rows_per_round * n_rounds / 1000),
        "peak_rss_mb": peak,
    }
    diag = {"latency_samples": n_rounds, "round_s": rounds,
            "rows_per_round": rows_per_round, "excluded_from_setup_s": ctx.excluded_s,
            "oracle_check_s": oracle_s}
    return attempted, failed, metrics, diag


# ------------------------------------------------------------ layer probes --

# Static slice for the per-row probes: 16 windows x 2 topics x 1250 events,
# denser than the live stream so per-row costs outweigh per-file ones.
PROBE_PLAN = gen.WeatherPlan(rate_per_topic=500)
PROBE_WINDOWS = 16


def _median_time(fn, reps: int = 3) -> float:
    fn()  # warm
    times = []
    for _ in range(reps):
        t = time.time()
        fn()
        times.append(time.time() - t)
    return statistics.median(times)


def probe_slice(ctx: Context) -> tuple[list[str], int]:
    """Write the static slice once: (per-topic directories, rows)."""
    plan = PROBE_PLAN
    dirs = [os.path.join(ctx.work, "slice", t) for t in gen.TOPICS]
    if not os.path.isdir(dirs[0]):
        for d in dirs:
            os.makedirs(d)
        base = 1_704_067_200  # 2024-01-01T00:00:00Z, a multiple of the window
        for m in range(PROBE_WINDOWS):
            ws = base + m * plan.trigger_s
            for j, (_, topic, data) in enumerate(gen.window_files(plan, ctx.seed, m, ws)):
                gen.write_file_atomically(dirs[gen.TOPICS.index(topic)],
                                          f"w{m:04d}-{j:02d}.parquet", data)
    return dirs, PROBE_WINDOWS * len(gen.TOPICS) * plan.events_per_window


def probe_sources_operators(ctx: Context, spark) -> None:
    from sparkksqldbbenchmark_spark.schemas import WEATHER_DATA_AVRO
    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        flatten_payload,
    )

    dirs, rows = probe_slice(ctx)
    krows = rows / 1000

    def scan():
        return spark.read.schema("value binary").parquet(*dirs)

    def decoded():
        return flatten_payload(decode_avro_value(scan(), WEATHER_DATA_AVRO))

    with ctx.tracer.span("scan", "sources"):
        scan_s = _median_time(lambda: noop(scan()))
    with ctx.tracer.span("decode_avro_value", "sources"):
        decode_s = _median_time(lambda: noop(decoded()))
    ctx.layer["sources.scan_ms_per_krow"] = scan_s * 1000 / krows
    ctx.layer["sources.decode_ms_per_krow"] = max(0.0, decode_s - scan_s) * 1000 / krows
    static = decoded().cache()
    static.count()
    with ctx.tracer.span("tumbling_window_agg", "operators"):
        agg_s = _median_time(lambda: noop(window_agg(static, PROBE_PLAN)))
    ctx.layer["operators.window_agg_ms_per_krow"] = agg_s * 1000 / krows
    nbytes, nrecords = run_and_count_shuffle(window_agg(static, PROBE_PLAN))
    ctx.layer["operators.shuffle_bytes"] = nbytes
    ctx.layer["operators.shuffle_records"] = nrecords
    static.createOrReplaceTempView("weather_slice")


KSQL_PROBE = """
SELECT TIMESTAMPTOSTRING(WINDOWSTART, 'yyyy-MM-dd HH:mm:ss') AS window_start,
       metric, stationId,
       LATEST_BY_OFFSET(value) AS latest_value,
       MIN(value) AS min_value, MAX(value) AS max_value,
       COUNT(*) AS message_count, MIN(producer_ts) AS min_producer_ts
FROM weather
WINDOW TUMBLING (SIZE 3 SECONDS)
GROUP BY metric, stationId
"""


def probe_sql(ctx: Context, spark) -> None:
    """translate_ksql alone, then create_table_as (translate + analyze, no
    action) over the static slice registered by probe_sources_operators."""
    from sparkksqldbbenchmark_spark.sql.ksql import KsqlFrontDoor, translate_ksql

    front = KsqlFrontDoor(spark, ts_col="ts", offset_col="producer_ts")
    front.create_stream("weather", spark.table("weather_slice").withColumn(
        "ts", F.timestamp_millis("producer_ts")))
    with ctx.tracer.span("translate_ksql", "sql"):
        ctx.layer["sql.translate_ms"] = _median_time(
            lambda: translate_ksql(KSQL_PROBE, ts_col="ts", offset_col="producer_ts"),
            reps=9) * 1000
    with ctx.tracer.span("create_table_as", "sql"):
        ctx.layer["sql.plan_ms"] = _median_time(
            lambda: front.create_table_as("weather_agg", KSQL_PROBE), reps=5) * 1000


def probe_stream(ctx: Context, spark) -> None:
    """A short availableNow drain of the static slice through run_to_memory,
    for the stream metrics of a workload that has no stream of its own."""
    from sparkksqldbbenchmark_spark.streaming.pipeline import run_to_memory

    dirs, _ = probe_slice(ctx)
    plan = PROBE_PLAN
    # maxFilesPerTrigger applies per source: four equal batches per topic
    stream = weather_stream(spark, dirs, PROBE_WINDOWS * plan.files_per_window // 4)
    ckpt = os.path.join(ctx.work, "probe_ckpt")
    with ctx.tracer.span("run_to_memory", "streaming"):
        q = run_to_memory(window_agg(stream, plan), "perfbench_probe",
                          checkpoint=ckpt, timeout_s=120)
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    lags = []
    for prev, p in zip(progress, progress[1:]):
        prev_end = _iso_s(prev["timestamp"]) + prev["durationMs"]["triggerExecution"] / 1000
        lags.append((_iso_s(p["timestamp"]) - prev_end) * 1000)
    stream_layer_metrics(ctx, progress, files_per_batch(ckpt), lags or [0.0])
    shutil.rmtree(ckpt, ignore_errors=True)

