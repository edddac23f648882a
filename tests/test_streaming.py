"""Streaming semantics tests (SURVEY.md §2.9): stream-batch equivalence,
watermark+append mode (our extension, T4), update-mode emission,
processing-time toggle, the pipeline builder, and the ksql front door's
continuous path."""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sparkksqldbbenchmark_spark.operators.windowed_agg import tumbling_window_agg
from sparkksqldbbenchmark_spark.sql.ksql import KsqlFrontDoor, translate_ksql
from sparkksqldbbenchmark_spark.streaming.pipeline import (
    StreamSource,
    WindowedPipeline,
    await_or_stop,
    run_to_memory,
)

from .conftest import SF_DIR

SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("stationId", LongType()),
        StructField("metric", StringType()),
        StructField("value", DoubleType()),
        StructField("offset", LongType()),
    ]
)

ROWS = [
    ("2024-01-01 00:00:10", 1, "wind_speed", 5.0, 0),
    ("2024-01-01 00:00:40", 1, "wind_speed", 7.0, 1),
    ("2024-01-01 00:01:10", 1, "wind_speed", 9.0, 2),
    ("2024-01-01 00:00:20", 2, "sunshine", 30.0, 3),
    ("2024-01-01 00:05:00", 2, "sunshine", 40.0, 4),  # late-ish window
]


def _write_fixture(spark, n_files: int = 1) -> str:
    d = tempfile.mkdtemp(prefix="stream_fixture_")
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in ROWS],
        "ts string, stationId long, metric string, value double, offset long",
    ).withColumn("ts", F.to_timestamp("ts"))
    if n_files == 1:
        df = df.coalesce(1)
    else:
        df = df.repartition(n_files, "offset")
    df.write.mode("overwrite").parquet(d)
    return d


def test_stream_batch_equivalence(spark):
    """The same logical plan over readStream and read produces identical
    final state (SURVEY §5 golden strategy)."""
    d = _write_fixture(spark)
    batch = tumbling_window_agg(
        spark.read.parquet(d), ts_col="ts", keys=("metric", "stationId"),
        order_col="offset",
    )
    stream_df = tumbling_window_agg(
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d),
        ts_col="ts",
        keys=("metric", "stationId"),
        order_col="offset",
    )
    name = f"eq_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(stream_df, name, output_mode="complete")
    q.stop()
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    assert len(want) == 4  # 3 wind/sunshine windows in min 0-1 + 1 at min 5


def test_watermark_append_mode(spark):
    """T4 extension: with a watermark, append mode emits only closed
    windows and state is bounded."""
    d = _write_fixture(spark)
    stream_df = tumbling_window_agg(
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d),
        ts_col="ts",
        keys=("metric",),
        watermark="2 minutes",
    )
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(stream_df, name, output_mode="append")
    q.stop()
    rows = spark.table(name).collect()
    # watermark advances to 00:05 - 2min = 00:03 after the single
    # availableNow batch; windows ending ≤ 00:03 are closed and emitted.
    emitted = {(r["window_start"], r["metric"]) for r in rows}
    assert ("2024-01-01 00:00:00", "wind_speed") in emitted
    assert all(ws < "2024-01-01 00:03:00" for ws, _ in emitted)


def test_update_mode_emits_rows(spark):
    d = _write_fixture(spark)
    stream_df = tumbling_window_agg(
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d),
        ts_col="ts",
        keys=("metric",),
    )
    name = f"up_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(stream_df, name, output_mode="update")
    q.stop()
    assert spark.table(name).count() >= 4


def test_update_mode_multiple_updates_per_key(spark):
    """T3 cadence: with one file per micro-batch, a key spanning several
    batches emits one update row per batch it changes in, counts strictly
    increasing; the last update equals the batch aggregate."""
    from pyspark.sql import functions as F

    d = _write_fixture(spark, n_files=3)
    stream_df = tumbling_window_agg(
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d),
        ts_col="ts",
        keys=("metric",),
    )
    name = f"upm_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(stream_df, name, output_mode="update")
    q.stop()
    sink = spark.table(name)
    # at least one (window, metric) key must have been updated in more
    # than one micro-batch
    multi = (
        sink.groupBy("window_start", "metric")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert multi >= 1
    final = sink.groupBy("window_start", "metric").agg(
        F.max("message_count").alias("message_count")
    )
    batch = (
        spark.read.parquet(d)
        .groupBy(F.window("ts", "1 minute"), "metric")
        .count()
    )
    assert sum(r["message_count"] for r in final.collect()) == len(ROWS)
    assert final.count() == batch.count()


def test_processing_time_mode_smoke(spark):
    """T2 — processing-time windowing (reference default) runs; values are
    nondeterministic so only shape is asserted."""
    d = _write_fixture(spark)
    stream_df = tumbling_window_agg(
        spark.readStream.schema(spark.read.parquet(d).schema).parquet(d),
        ts_col="ts",
        keys=("metric",),
        use_processing_time=True,
    )
    name = f"pt_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(stream_df, name, output_mode="complete")
    q.stop()
    rows = spark.table(name).collect()
    assert {r["metric"] for r in rows} == {"wind_speed", "sunshine"}
    assert sum(r["message_count"] for r in rows) == len(ROWS)


def test_pipeline_builder_two_sources(spark):
    """U1 — the full reference topology via WindowedPipeline: two file
    sources unioned then windowed (SparkWeatherConsumer.scala:88-99)."""
    d1 = _write_fixture(spark)
    d2 = _write_fixture(spark)
    schema = spark.read.parquet(d1).schema
    pipe = WindowedPipeline(
        sources=[
            StreamSource("parquet", path=d1, schema=schema),
            StreamSource("parquet", path=d2, schema=schema),
        ],
        ts_col="ts",
        keys=("metric", "stationId"),
        order_col="offset",
    )
    name = f"pipe_{uuid.uuid4().hex[:8]}"
    q = run_to_memory(pipe.build(spark), name, output_mode="complete")
    q.stop()
    rows = spark.table(name).collect()
    assert sum(r["message_count"] for r in rows) == 2 * len(ROWS)


def test_translate_ksql():
    sql, cont = translate_ksql(
        """SELECT TIMESTAMPTOSTRING(WINDOWSTART, 'yyyy-MM-dd') AS ws,
                  CAST(WINDOWEND AS BIGINT) AS we,
                  LATEST_BY_OFFSET(stationName) AS name, COUNT(*) AS c
           FROM weather WINDOW TUMBLING (SIZE 1 MINUTES)
           GROUP BY stationId EMIT CHANGES""",
        ts_col="ts",
        offset_col="offset",
    )
    assert cont
    assert "EMIT" not in sql.upper()
    assert "date_format(window.start, 'yyyy-MM-dd')" in sql
    assert "unix_millis(window.end)" in sql
    assert "max_by(stationName, offset)" in sql
    assert "GROUP BY window(ts, '1 minute')," in sql


def test_translate_ksql_global_windowed_agg():
    """A WINDOW clause with no GROUP BY (legal ksql: global windowed
    aggregate) must still group by the window — silently dropping it
    would compute an unwindowed global aggregate instead."""
    sql, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM weather "
        "WINDOW TUMBLING (SIZE 5 MINUTES) EMIT CHANGES",
        ts_col="ts",
        offset_col="offset",
    )
    assert "GROUP BY window(ts, '5 minute')" in sql
    # and with a trailing clause the GROUP BY lands before it
    sql2, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM weather "
        "WINDOW TUMBLING (SIZE 5 MINUTES) LIMIT 10",
        ts_col="ts",
        offset_col="offset",
    )
    assert "GROUP BY window(ts, '5 minute')" in sql2
    assert sql2.upper().index("GROUP BY") < sql2.upper().index("LIMIT")
    # a LIMIT inside a derived-table subquery must NOT attract the
    # GROUP BY — it belongs at the top level, after the subquery
    sql3, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM (SELECT * FROM weather LIMIT 5) w "
        "WINDOW TUMBLING (SIZE 5 MINUTES) EMIT CHANGES",
        ts_col="ts",
        offset_col="offset",
    )
    assert "LIMIT 5) w" in sql3, sql3
    assert sql3.upper().index("GROUP BY") > sql3.upper().index("LIMIT")
    # a trailing semicolon must stay after the inserted clause
    sql4, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM weather "
        "WINDOW TUMBLING (SIZE 5 MINUTES);",
        ts_col="ts",
        offset_col="offset",
    )
    assert sql4.rstrip().endswith(";"), sql4
    assert "GROUP BY window(ts, '5 minute')" in sql4.split(";")[0]
    # keyword substrings inside snake_case identifiers are NOT clauses
    sql5, _ = translate_ksql(
        "SELECT SUM(x) AS total_limit FROM t "
        "WINDOW TUMBLING (SIZE 5 MINUTES) EMIT CHANGES",
        ts_col="ts",
        offset_col="offset",
    )
    assert "total_limit FROM t GROUP BY window(ts, '5 minute')" in sql5, sql5
    # parens inside string literals must not corrupt the depth scan
    sql6, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM t WHERE note = ':-)' "
        "WINDOW TUMBLING (SIZE 5 MINUTES) LIMIT 3",
        ts_col="ts",
        offset_col="offset",
    )
    assert sql6.upper().index("GROUP BY") < sql6.upper().index("LIMIT 3"), sql6
    # a GROUP BY inside a derived-table subquery must not attract the
    # window — only the top-level GROUP BY (or its absence) does
    sql7, _ = translate_ksql(
        "SELECT s, COUNT(*) AS c FROM "
        "(SELECT k AS s FROM t GROUP BY k) "
        "WINDOW TUMBLING (SIZE 5 MINUTES) GROUP BY s EMIT CHANGES",
        ts_col="ts",
        offset_col="offset",
    )
    assert "(SELECT k AS s FROM t GROUP BY k)" in sql7, sql7
    assert "GROUP BY window(ts, '5 minute'), s" in sql7, sql7
    # non-ASCII case-mapping (ß→SS) must not shift the insertion point
    sql8, _ = translate_ksql(
        "SELECT COUNT(*) AS c FROM t WHERE city = 'Straße' "
        "WINDOW TUMBLING (SIZE 5 MINUTES) LIMIT 5",
        ts_col="ts",
        offset_col="offset",
    )
    assert "GROUP BY window(ts, '5 minute') LIMIT 5" in sql8, sql8
    # backtick identifiers and -- comments must not corrupt the scan
    sql9, _ = translate_ksql(
        "SELECT `a)b` AS x, COUNT(*) AS c FROM t -- apply limit later\n"
        "WINDOW TUMBLING (SIZE 5 MINUTES) LIMIT 3",
        ts_col="ts",
        offset_col="offset",
    )
    assert sql9.upper().index("GROUP BY") < sql9.upper().rindex("LIMIT 3"), sql9


def test_translate_ksql_insertion_fuzz():
    """Property: for a windowed no-GROUP-BY query with arbitrary
    depth-0 noise (string literals with parens/keywords, backtick
    identifiers, comments, snake_case keyword lookalikes, non-ASCII),
    the inserted GROUP BY always lands at the top level: after every
    subquery close-paren and before any top-level LIMIT."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    noise = st.sampled_from([
        "'lim(it'", "':-)'", "'it''s'", "`weird)col`", "total_limit",
        "'Straße'", "x_having", "'GROUP BY fake'", "(SELECT 1 LIMIT 2) s",
    ])

    @settings(max_examples=60, deadline=None)
    @given(parts=st.lists(noise, min_size=0, max_size=4),
           top_limit=st.booleans())
    def check(parts, top_limit):
        mid = ", ".join(parts)
        sel = f"SELECT COUNT(*) AS c{', ' + mid if mid else ''} FROM t "
        q = sel + "WINDOW TUMBLING (SIZE 5 MINUTES)"
        if top_limit:
            q += " LIMIT 7"
        sql, _ = translate_ksql(q, ts_col="ts", offset_col="offset")
        assert sql.count("GROUP BY window(ts, '5 minute')") == 1, sql
        gb = sql.index("GROUP BY window")
        # never inside parens: literal/backtick-aware depth must be 0
        # at the insertion point
        depth, i = 0, 0
        while i < gb:
            c = sql[i]
            if c == "'":
                i += 1
                while i < gb and sql[i] != "'":
                    i += 1
            elif c == "`":
                i += 1
                while i < gb and sql[i] != "`":
                    i += 1
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        assert depth == 0, sql
        if top_limit:
            assert gb < sql.rindex("LIMIT 7"), sql

    check()


def test_ksql_front_door_continuous(spark):
    """EMIT CHANGES over a streaming view deploys a persistent query
    readable as the table name (setup-ksqldb-correct.sh:93-146)."""
    d = _write_fixture(spark)
    front = KsqlFrontDoor(spark, ts_col="ts", offset_col="offset")
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    sname = f"weather_{uuid.uuid4().hex[:8]}"
    tname = f"agg_{uuid.uuid4().hex[:8]}"
    front.create_stream(sname, stream)
    q = front.create_table_as(
        tname,
        f"""SELECT metric, COUNT(*) AS c, LATEST_BY_OFFSET(value) AS latest
            FROM {sname} WINDOW TUMBLING (SIZE 1 MINUTES)
            GROUP BY metric EMIT CHANGES""",
    )
    q.awaitTermination(120)
    front.terminate(tname)
    rows = spark.table(tname).collect()
    assert front.show_queries() == []
    assert front.show_streams() == [sname]
    assert {r["metric"] for r in rows} == {"wind_speed", "sunshine"}
    latest = {r["metric"]: r["latest"] for r in rows}
    assert latest["wind_speed"] in (7.0, 9.0)  # per-window latest


def test_ksql_execute_script(spark):
    """The reference's ksql-file deployment shape
    (setup-ksqldb-correct.sh:49-162): CREATE STREAM binding + CREATE TABLE
    AS + SHOW verification, all as one script."""
    d = _write_fixture(spark)
    front = KsqlFrontDoor(spark, ts_col="ts", offset_col="offset")
    front.create_stream("weather_topic", spark.read.parquet(d))
    results = front.execute_script(
        """
        CREATE STREAM weather_wind (ts TIMESTAMP, stationId BIGINT,
            metric VARCHAR, value DOUBLE, offset BIGINT)
            WITH (kafka_topic='weather_topic', value_format='AVRO');
        CREATE TABLE weather_agg AS
            SELECT metric, COUNT(*) AS c,
                   LATEST_BY_OFFSET(value) AS latest
            FROM weather_wind
            WINDOW TUMBLING (SIZE 1 MINUTES)
            GROUP BY metric;
        SHOW TABLES;
        """
    )
    assert "weather_agg" in results[-1]
    rows = spark.table("weather_agg").collect()
    assert sum(r["c"] for r in rows) == len(ROWS)
    assert front.show_streams() == ["weather_topic", "weather_wind"]


def test_ksql_reference_deployment_script(spark):
    """The front door must run the reference's ACTUAL deployment shape
    (ksqldb-consumer/scripts/setup.sql + profiles/low_latency.sql): two
    CREATE STREAM bindings with Avro WITH-options, DROP TABLE IF EXISTS
    ... DELETE TOPIC, and CREATE TABLE ... WITH (sink options) AS SELECT
    using AS_VALUE, TIMESTAMPTOSTRING(.SSS), ROWTIME, LATEST_BY_OFFSET,
    a UNION ALL subquery, WINDOW TUMBLING (SIZE 30 SECONDS) and EMIT
    CHANGES — every dialect construct those two files contain."""
    d = _write_fixture(spark)
    front = KsqlFrontDoor(spark, ts_col="ts", offset_col="offset")
    src = spark.read.parquet(d)
    front.create_stream("topic_wind", src.where(F.col("metric") == "wind_speed"))
    front.create_stream("topic_sun", src.where(F.col("metric") == "sunshine"))
    front.execute_script(
        """
        CREATE STREAM weather_wind (ts TIMESTAMP, stationId BIGINT,
            metric VARCHAR, value DOUBLE, offset BIGINT)
            WITH (KAFKA_TOPIC='topic_wind', VALUE_FORMAT='AVRO',
                  VALUE_AVRO_SCHEMA_FULL_NAME='WeatherData');
        CREATE STREAM weather_sunshine (ts TIMESTAMP, stationId BIGINT,
            metric VARCHAR, value DOUBLE, offset BIGINT)
            WITH (KAFKA_TOPIC='topic_sun', VALUE_FORMAT='AVRO');
        DROP TABLE IF EXISTS weather_aggregated_output DELETE TOPIC;
        CREATE TABLE weather_aggregated_output WITH (
            KAFKA_TOPIC='weather.aggregated.output', VALUE_FORMAT='AVRO',
            PARTITIONS=5, REPLICAS=1
        ) AS
        SELECT stationId AS stationId,
               AS_VALUE(stationId) AS key_stationId,
               TIMESTAMPTOSTRING(WINDOWSTART,
                   'yyyy-MM-dd HH:mm:ss.SSS') AS window_start,
               TIMESTAMPTOSTRING(WINDOWEND,
                   'yyyy-MM-dd HH:mm:ss.SSS') AS window_end,
               metric AS metric,
               ROUND(AVG(value), 2) AS avg_value,
               ROUND(MIN(value), 2) AS min_value,
               ROUND(MAX(value), 2) AS max_value,
               COUNT(*) AS message_count,
               MIN(offset) AS min_producer_ts,
               MAX(ROWTIME) AS processing_end_ts
        FROM (SELECT * FROM weather_wind
              UNION ALL
              SELECT * FROM weather_sunshine)
        WINDOW TUMBLING (SIZE 30 SECONDS)
        GROUP BY stationId, metric
        EMIT CHANGES;
        """
    )
    rows = spark.table("weather_aggregated_output").collect()
    assert rows, "reference script produced no aggregate rows"
    by_key = {(r["stationId"], r["metric"], r["window_start"]): r for r in rows}
    assert len(by_key) == len(rows), "grouping keys must be unique per window"
    for r in rows:
        assert r["key_stationId"] == r["stationId"]  # AS_VALUE identity
        assert r["window_start"].endswith(".000")  # .SSS format applied
        assert r["message_count"] >= 1
        # ROWTIME mapped to epoch-millis of the event time: the max must
        # fall inside the window's [start, start+30s) bound
        assert r["processing_end_ts"] >= 1  # epoch ms, present and bigint
    assert {r["metric"] for r in rows} == {"wind_speed", "sunshine"}
    # DROP TABLE now really drops: a re-run of the same script succeeds
    # (IF EXISTS path) and the view disappears in between
    front.execute("DROP TABLE weather_aggregated_output")
    assert "weather_aggregated_output" not in front.show_tables()


def test_streaming_stream_join_matches_batch(spark):
    """Watermarked stream-stream join run to completion equals the batch
    relational join (stream-batch equivalence for two-stream correlation)."""
    from sparkksqldbbenchmark_spark.catalog import load_table
    from sparkksqldbbenchmark_spark.plans.streaming_queries import (
        streaming_stream_join,
    )

    got = {
        (r.user_id, r.view_id, r.click_id, r.lag_us)
        for r in streaming_stream_join(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events")
    v = ev.where(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("vts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    batch = v.join(
        c,
        F.expr("user_id = cu AND cts >= vts AND cts <= vts + interval 1 hour"),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.unix_micros("cts") - F.unix_micros("vts")).alias("lag_us"),
    )
    want = {
        (r.user_id, r.view_id, r.click_id, r.lag_us) for r in batch.collect()
    }
    assert got == want and len(got) > 0


def test_foreach_batch_idempotent_sink(spark, tmp_path):
    """foreachBatch exactly-once pattern: (1) a completed run's output
    equals the input exactly; (2) re-writing a batch id (the failure-replay
    case) overwrites rather than duplicates."""
    import pathlib

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_foreach_batch_idempotent,
    )

    src = tmp_path / "src"
    out = tmp_path / "out"
    events = spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") % 7).alias("k")
    )
    events.repartition(3).write.parquet(str(src))
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    q = run_foreach_batch_idempotent(stream, str(out))
    q.stop()
    batches = sorted(p.name for p in pathlib.Path(out).glob("batch=*"))
    assert len(batches) >= 2  # maxFilesPerTrigger=1 over 3 files
    got = spark.read.option("basePath", str(out)).parquet(
        str(out) + "/batch=*"
    )
    assert got.count() == 100
    assert {r.event_id for r in got.select("event_id").collect()} == set(
        range(100)
    )
    # replay simulation: re-write batch 0 with the same rows — total count
    # must NOT grow (overwrite, not append). Materialize first: a lazy
    # self-read-overwrite would delete its own input mid-job.
    b0_rows = spark.read.parquet(str(out) + "/batch=0").collect()
    n0 = len(b0_rows)
    spark.createDataFrame(b0_rows, schema).write.mode("overwrite").parquet(
        str(out) + "/batch=0"
    )
    again = spark.read.option("basePath", str(out)).parquet(
        str(out) + "/batch=*"
    )
    assert again.count() == 100
    assert spark.read.parquet(str(out) + "/batch=0").count() == n0


def test_rocksdb_state_store_equivalence(spark):
    """T8 — the cluster profile's RocksDB state store provider, proven
    end-to-end rather than config-only: the same windowed aggregation
    over the same stream produces the identical final state under the
    default (HDFS-backed) provider and under RocksDBStateStoreProvider.
    The provider conf is read at query start, so flipping it on the
    session between runs exercises both backends in one test."""
    d = _write_fixture(spark)
    schema = spark.read.parquet(d).schema

    def run_once():
        stream_df = tumbling_window_agg(
            spark.readStream.schema(schema).parquet(d),
            ts_col="ts",
            keys=("metric", "stationId"),
            order_col="offset",
        )
        name = f"rocks_eq_{uuid.uuid4().hex[:8]}"
        q = run_to_memory(stream_df, name, output_mode="complete")
        q.stop()
        return {tuple(r) for r in spark.table(name).collect()}

    default_state = run_once()
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocksdb_state = run_once()
    finally:
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert rocksdb_state == default_state
    assert len(rocksdb_state) == 4


def test_translate_ksql_hopping_and_session():
    sql, _ = translate_ksql(
        """SELECT metric, COUNT(*) AS c FROM weather
           WINDOW HOPPING (SIZE 10 MINUTES, ADVANCE BY 5 MINUTES)
           GROUP BY metric""",
        ts_col="ts",
    )
    assert "GROUP BY window(ts, '10 minute', '5 minute')," in sql
    assert "HOPPING" not in sql.upper()
    sql2, _ = translate_ksql(
        """SELECT metric, COUNT(*) AS c FROM weather
           WINDOW SESSION (30 SECONDS)
           GROUP BY metric""",
        ts_col="ts",
    )
    assert "GROUP BY session_window(ts, '30 second')," in sql2
    assert "SESSION (" not in sql2


def test_ksql_hopping_window_executes(spark):
    """A translated HOPPING query actually runs and matches the
    directly-written sliding-window aggregate: every event lands in
    size/advance = 2 overlapping windows."""
    d = _write_fixture(spark)
    batch = spark.read.parquet(d)
    batch.createOrReplaceTempView("hop_src")
    sql, _ = translate_ksql(
        """SELECT metric, WINDOWSTART AS ws, COUNT(*) AS c FROM hop_src
           WINDOW HOPPING (SIZE 2 MINUTES, ADVANCE BY 1 MINUTES)
           GROUP BY metric""",
        ts_col="ts",
    )
    got = {
        (r["metric"], str(r["ws"]), r["c"])
        for r in spark.sql(sql).collect()
    }
    want = {
        (r["metric"], str(r["window"]["start"]), r["c"])
        for r in batch.groupBy(
            F.window("ts", "2 minutes", "1 minutes"), "metric"
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_ksql_session_window_executes(spark):
    """A translated SESSION query runs and merges events within the gap
    (2 minutes): wind_speed's minute-0/1 cluster merges into one
    session; sunshine's 4m40s-apart events split into two."""
    d = _write_fixture(spark)
    spark.read.parquet(d).createOrReplaceTempView("sess_src")
    sql, _ = translate_ksql(
        """SELECT metric, COUNT(*) AS c FROM sess_src
           WINDOW SESSION (2 MINUTES)
           GROUP BY metric""",
        ts_col="ts",
    )
    rows = spark.sql(sql).select("metric", "c").collect()
    per_metric = {}
    for r in rows:
        per_metric.setdefault(r["metric"], []).append(r["c"])
    # wind_speed events all fall within the 2-min gap → one session of 3;
    # sunshine's 00:00:20 and 00:05:00 are 4m40s apart → two sessions
    assert sorted(per_metric["wind_speed"]) == [3]
    assert sorted(per_metric["sunshine"]) == [1, 1]


def test_scaled_state_partitions_derives_from_backlog(spark, monkeypatch):
    """r17 optimization: stateful streams size their state partition
    count from the file-source backlog (AQE-style, since AQE cannot
    coalesce stateful plans): tiny backlog -> floor of 2, never above
    the session setting; non-file sources and the 'session' override
    leave the session conf untouched (None)."""
    import os

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        scaled_state_partitions,
    )

    d = tempfile.mkdtemp(prefix="ssp_")
    spark.range(100).write.parquet(os.path.join(d, "in"))
    sdf = spark.readStream.schema("id bigint").parquet(os.path.join(d, "in"))

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS", raising=False)
    got = scaled_state_partitions(sdf)
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert got == 2  # tiny backlog coalesces to the floor
    assert got <= session_parts

    # a 1-byte target makes every byte its own partition -> clamped to
    # the session ceiling, never beyond it
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_TARGET_BYTES", "1")
    assert scaled_state_partitions(sdf) == session_parts
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_TARGET_BYTES")

    # explicit overrides
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "session")
    assert scaled_state_partitions(sdf) is None
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "7")
    assert scaled_state_partitions(sdf) == 7
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS")

    # non-file source: no derivation
    rate = spark.readStream.format("rate").load()
    assert scaled_state_partitions(rate) is None


def test_malformed_state_partition_env_falls_back(spark, monkeypatch):
    """ADVICE r17: a malformed SPARK_GRAFT_STREAM_STATE_PARTS or
    ..._TARGET_BYTES must not raise at stream start — the parse falls
    back to the session setting / the 64 MiB default."""
    import os

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        scaled_state_partitions,
    )

    d = tempfile.mkdtemp(prefix="sspm_")
    spark.range(100).write.parquet(os.path.join(d, "in"))
    sdf = spark.readStream.schema("id bigint").parquet(
        os.path.join(d, "in")
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", "not-a-number")
    assert scaled_state_partitions(sdf) is None  # session fallback
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS")
    monkeypatch.setenv(
        "SPARK_GRAFT_STREAM_STATE_TARGET_BYTES", "sixty-four-megs"
    )
    got = scaled_state_partitions(sdf)  # 64 MiB default target
    assert got == 2  # tiny backlog -> floor, not an exception


def test_state_partition_coalesce_layout_only(spark, monkeypatch):
    """VERDICT r17 ask #2: the backlog-derived state partition count
    changes state LAYOUT (stateOperators.numShufflePartitions), never
    row values. One stateful availableNow aggregation run at the
    session count and at the derived count must produce identical
    rows; the progress must report the derived count. Full-size
    evidence artifact: plans/r18/streaming_state_partitions_evidence.txt
    (tools/state_partition_evidence.py)."""
    import os

    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.streaming.pipeline import (
        run_to_memory,
    )

    d = tempfile.mkdtemp(prefix="sspl_")
    src = os.path.join(d, "in")
    (
        spark.range(200)
        .select(
            F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias(
                "ts"
            ),
            (F.col("id") % 7).alias("k"),
            F.col("id").alias("v"),
        )
        .repartition(2)
        .write.parquet(src)
    )
    sch = spark.read.parquet(src).schema

    def run(env_val, name):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTS", env_val)
        sdf = (
            spark.readStream.schema(sch)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
            .withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "30 seconds"), "k")
            .agg(F.sum("v").alias("sv"), F.count("*").alias("c"))
            .select("window.start", "k", "sv", "c")
        )
        q = run_to_memory(sdf, name, output_mode="append", timeout_s=300)
        prog = q.lastProgress or {}
        ops = prog.get("stateOperators") or [{}]
        rows = sorted(
            (str(r.start), r.k, r.sv, r.c)
            for r in spark.table(name).collect()
        )
        return rows, ops[0].get("numShufflePartitions")

    rows32, parts32 = run("session", "sspl_session")
    rows_auto, parts_auto = run("auto", "sspl_auto")
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE_PARTS")
    assert rows32 == rows_auto and rows32  # identical values
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert parts32 == session_parts
    assert parts_auto == 2  # tiny backlog -> derived floor


def test_run_to_memory_timeout_raises_and_stops(spark, tmp_path):
    """An availableNow backlog that cannot drain within timeout_s stops the
    query and raises TimeoutError instead of returning partial rows."""
    import time

    import pytest

    src = str(tmp_path / "src")
    spark.range(6).repartition(3).write.parquet(src)

    @F.udf("long")
    def slow(x):
        time.sleep(2)
        return x

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(slow("id").alias("id"))
    )
    name = f"timeout_{uuid.uuid4().hex[:8]}"
    with pytest.raises(TimeoutError, match="PARTIAL"):
        run_to_memory(stream, name, output_mode="append", timeout_s=1)
    assert name not in {q.name for q in spark.streams.active}


def test_await_or_stop_raises_and_stops(spark, tmp_path):
    """A query that cannot finish (a rate source on a processing-time
    trigger never terminates) is stopped, and TimeoutError is raised."""
    import pytest

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("memory")
        .queryName(f"never_{uuid.uuid4().hex[:8]}")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="1 second")
        .start()
    )
    with pytest.raises(TimeoutError, match="PARTIAL"):
        await_or_stop(q, 1, "rate stream")
    assert not q.isActive
