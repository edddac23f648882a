"""Kafka source/sink builders with Confluent wire-format handling.

The reference's transport layer (SURVEY §2.1):
- S1 stream source with rate cap / fetch tuning
  (SparkWeatherConsumer.scala:160-183)
- S2 Confluent-Avro decode: strip the 5-byte Schema-Registry header
  (magic 0x00 + 4-byte schema id) then from_avro (:201-211)
- S3 Avro encode + 5-byte header prepend for the sink (:110-125)
- S4 Kafka sink, update mode, checkpointed (:128-140)
- S6 batch consume earliest→latest (LatencyMonitor.scala:76-130)
- S7 dual-format decode: wire-format vs raw Avro by byte prefix
  (LatencyMonitor.scala:138-173)

Everything here only BUILDS readers/writers and framing expressions — no
network activity at import, and the Avro codec is import-gated so the
engine degrades to JSON payloads when spark-avro isn't on the classpath
(SURVEY §7 risk 6; this container has no Kafka/spark-avro, so these
builders are exercised by unit tests on the framing expressions only).
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def avro_available() -> bool:
    try:
        from pyspark.sql.avro.functions import from_avro  # noqa: F401

        return True
    except Exception:
        return False


def probe_avro_path(spark) -> str:
    """Which Avro decode path THIS session will actually execute: "jvm"
    (spark-avro data source loaded — the 100 TB path; from_avro is
    codegen'd) or "python" (pure-Python mapInArrow codec fallback,
    sources/avro_codec.py). avro_available() only proves the pyspark
    wrapper imports; the data-source jar can still be absent and only
    fails at ANALYSIS time — so probe with a real one-row decode. The
    bench records the result so perf numbers are attributable to the
    codec that ran (VERDICT r03 'What's missing' item 1)."""
    import json as _json

    schema = _json.dumps(
        {
            "type": "record",
            "name": "Probe",
            "fields": [{"name": "x", "type": "long"}],
        }
    )
    # avro encoding of {"x": 1}: zigzag(1) = 0x02
    df = spark.createDataFrame([(bytes([0x02]),)], "value binary")
    try:
        decode_avro_value(
            df, schema, framed=False, python_fallback=False
        ).collect()
        return "jvm"
    except Exception:
        return "python"


def read_kafka_stream(
    spark: SparkSession,
    bootstrap: str,
    topic: str,
    *,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 5000,
    min_partitions: int | None = 5,
    fetch_min_bytes: int = 1,
    fetch_max_wait_ms: int = 500,
) -> DataFrame:
    """S1 — the reference's tuned stream source
    (SparkWeatherConsumer.scala:160-183)."""
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("kafka.fetch.min.bytes", str(fetch_min_bytes))
        .option("kafka.fetch.max.wait.ms", str(fetch_max_wait_ms))
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    if min_partitions:
        reader = reader.option("minPartitions", str(min_partitions))
    return reader.load()


def read_kafka_batch(
    spark: SparkSession, bootstrap: str, topic: str
) -> DataFrame:
    """S6 — batch consume of a full topic (the monitor's poll loop becomes
    a bounded scan: earliest→latest)."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("endingOffsets", "latest")
        .load()
    )


def strip_confluent_header(value: Column) -> Column:
    """S2 — drop the 5-byte wire-format prefix:
    substring(value, 6, length(value)-5) (SparkWeatherConsumer.scala:203).
    1-based SQL substring; works on BinaryType."""
    return F.substring(value, 6, F.length(value) - F.lit(5))


def confluent_schema_id(value: Column) -> Column:
    """Big-endian 4-byte schema id from bytes 2-5 of the wire format
    (LatencyMonitor.scala:147-151 reads the same header)."""
    b = [
        F.conv(F.hex(F.substring(value, i, 1)), 16, 10).cast("long")
        for i in (2, 3, 4, 5)
    ]
    return (
        b[0] * F.lit(1 << 24) + b[1] * F.lit(1 << 16)
        + b[2] * F.lit(1 << 8) + b[3]
    ).alias("schema_id")


def is_confluent_framed(value: Column) -> Column:
    """S7 — wire-format detection: magic byte 0x00 and payload long enough
    to carry the 5-byte header (LatencyMonitor.scala:141-146)."""
    return (F.length(value) > 5) & (
        F.conv(F.hex(F.substring(value, 1, 1)), 16, 10).cast("int") == 0
    )


def add_confluent_header(payload: Column, schema_id: int) -> Column:
    """S3's framing half: prepend magic 0x00 + big-endian schema id so
    Schema-Registry-aware consumers (the reference's monitor) can decode
    our output (register-schemas.sh:36-52 registers the ids)."""
    header = bytes([0]) + schema_id.to_bytes(4, "big")
    return F.concat(F.lit(header), payload)


def _is_missing_avro_error(exc: Exception) -> bool:
    """True only for the signatures of spark-avro being absent from the
    classpath: the FAILED_TO_LOAD/Failed-to-find AnalysisException at
    analysis time, or Py4J's 'does not exist in the JVM' when the function
    object itself is missing."""
    msg = str(exc).upper()
    return (
        "AVRO_NOT_LOADED" in msg
        or "FAILED_TO_LOAD_AVRO" in msg
        or ("FAILED TO FIND" in msg and "AVRO" in msg)
        or ("DOES NOT EXIST IN THE JVM" in msg and "AVRO" in msg)
        or "CLASSNOTFOUNDEXCEPTION" in msg
        or "NOCLASSDEFFOUNDERROR" in msg
    )


def decode_avro_value(
    df: DataFrame,
    avro_schema_json: str,
    *,
    framed: bool = True,
    python_fallback: bool = True,
) -> DataFrame:
    """S2/S7 — decode the Kafka `value` into a `data` struct column.
    Prefers spark-avro's from_avro (JVM, codegen — the 100 TB path). When
    spark-avro is absent and ``python_fallback`` is set, flat record
    schemas decode through the pure-Python Avro codec
    (sources/avro_codec.py, mapInArrow) with the identical output shape;
    set python_fallback=False to require the JVM path. With framed=False
    the payload is raw Avro (the monitor's second branch)."""
    payload = (
        strip_confluent_header(F.col("value")) if framed else F.col("value")
    )
    if avro_available():
        # the import succeeding does not guarantee the Avro data source is
        # loaded — depending on Spark version that surfaces as an
        # AnalysisException at analysis or a Py4J "does not exist in the
        # JVM" at call time. Only a recognizably-missing jar/data-source
        # falls back; genuine user errors (malformed avro_schema_json,
        # unsupported schema features) propagate instead of silently
        # changing decode paths.
        try:
            from pyspark.sql.avro.functions import from_avro

            return df.withColumn("data", from_avro(payload, avro_schema_json))
        except ImportError:
            if not python_fallback:
                raise
            warnings.warn(
                "pyspark.sql.avro import failed; falling back to the "
                "pure-Python Avro codec (mapInArrow)",
                stacklevel=2,
            )
        except Exception as exc:
            if not python_fallback or not _is_missing_avro_error(exc):
                raise
            warnings.warn(
                f"spark-avro data source unavailable ({type(exc).__name__}: "
                f"{str(exc).splitlines()[0][:120]}); falling back to the "
                "pure-Python Avro codec",
                stacklevel=2,
            )
    if python_fallback:
        from sparkksqldbbenchmark_spark.sources.avro_codec import (
            decode_avro_value_python,
        )

        return decode_avro_value_python(df, avro_schema_json, framed=framed)
    raise RuntimeError(
        "spark-avro is not on the classpath; launch with "
        "--packages org.apache.spark:spark-avro_2.13:<spark-version> "
        "or use JSON payloads (decode_json_value)"
    )


def decode_json_value(df: DataFrame, schema) -> DataFrame:
    """CI-path stand-in for Avro: JSON payloads with the same schema
    (SURVEY §7 risk 6 degradation path)."""
    return df.withColumn(
        "data", F.from_json(F.col("value").cast("string"), schema)
    )


def flatten_payload(df: DataFrame, *extra_cols: str) -> DataFrame:
    """P1 — data.* + Kafka metadata flatten
    (SparkWeatherConsumer.scala:205-222)."""
    cols = ["data.*"] + [c for c in extra_cols if c in df.columns]
    return df.select(*cols)


def encode_json_value(df: DataFrame, key_col: str, cols: list[str]) -> DataFrame:
    """S3 JSON twin: struct → JSON `value` + string `key` — the shape the
    Kafka sink writer expects (SparkWeatherConsumer.scala:108-126)."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*cols)).alias("value"),
    )


def write_kafka_stream(
    df: DataFrame,
    bootstrap: str,
    topic: str,
    checkpoint: str,
    *,
    output_mode: str = "update",
    trigger_interval: str = "2 seconds",
    compression: str = "snappy",
    batch_size: int = 16384,
    linger_ms: int = 0,
    acks: str = "1",
):
    """S4 — the reference's tuned Kafka sink
    (SparkWeatherConsumer.scala:128-140; producer tuning :134-137).
    At-least-once, matching ksqlDB's forced processing guarantee (T10)."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("topic", topic)
        .option("kafka.compression.type", compression)
        .option("kafka.batch.size", str(batch_size))
        .option("kafka.linger.ms", str(linger_ms))
        .option("kafka.acks", acks)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(processingTime=trigger_interval)
        .start()
    )
