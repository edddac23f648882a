"""Minimal Avro binary codec: spec-exact encodings, round-trips, and the
end-to-end Confluent-framed decode through Spark (the path the reference
runs via KafkaAvroSerializer + from_avro, SparkWeatherConsumer.scala:201).
"""

from __future__ import annotations

import json

from hypothesis import given, settings, strategies as st

from sparkksqldbbenchmark_spark.sources.avro_codec import (
    _zigzag_decode,
    _zigzag_encode,
    decode_avro_value_python,
    decode_record,
    encode_record,
    spark_schema_for,
)
from sparkksqldbbenchmark_spark.sources.kafka import (
    add_confluent_header,
    confluent_schema_id,
    is_confluent_framed,
)

WEATHER_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "WeatherData",
        "fields": [
            {"name": "timeObserved", "type": "string"},
            {"name": "stationId", "type": "int"},
            {"name": "stationName", "type": "string"},
            {"name": "metric", "type": "string"},
            {"name": "value", "type": "double"},
            {"name": "producer_ts", "type": "long"},
        ],
    }
)


def test_zigzag_spec_vectors():
    """Exact bytes from the Avro specification's varint examples."""
    assert _zigzag_encode(0) == b"\x00"
    assert _zigzag_encode(-1) == b"\x01"
    assert _zigzag_encode(1) == b"\x02"
    assert _zigzag_encode(-2) == b"\x03"
    assert _zigzag_encode(2) == b"\x04"
    assert _zigzag_encode(-64) == b"\x7f"
    assert _zigzag_encode(64) == b"\x80\x01"


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_zigzag_roundtrip(n):
    v, pos = _zigzag_decode(_zigzag_encode(n), 0)
    assert v == n
    assert pos == len(_zigzag_encode(n))


def test_record_spec_exact_bytes():
    """string 'ab' = len(2)+utf8; long 1 = 0x02 — field-order concat."""
    schema = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "s", "type": "string"},
                {"name": "n", "type": "long"},
            ],
        }
    )
    assert encode_record(schema, {"s": "ab", "n": 1}) == b"\x04ab\x02"


def test_record_roundtrip_weather():
    rec = {
        "timeObserved": "2024-01-01T00:00:00Z",
        "stationId": 601,
        "stationName": "København",
        "metric": "temp_dry",
        "value": -3.25,
        "producer_ts": 1700000000123,
    }
    got = decode_record(WEATHER_SCHEMA, encode_record(WEATHER_SCHEMA, rec))
    assert got == rec


def test_union_null_roundtrip():
    schema = json.dumps(
        {
            "type": "record",
            "name": "r",
            "fields": [
                {"name": "v", "type": ["null", "double"]},
                {"name": "k", "type": "long"},
            ],
        }
    )
    assert decode_record(schema, encode_record(schema, {"v": None, "k": 7})) == {
        "v": None,
        "k": 7,
    }
    assert decode_record(schema, encode_record(schema, {"v": 1.5, "k": 7})) == {
        "v": 1.5,
        "k": 7,
    }


def test_spark_schema_mapping():
    st_ = spark_schema_for(WEATHER_SCHEMA)
    assert [f.name for f in st_.fields] == [
        "timeObserved", "stationId", "stationName", "metric",
        "value", "producer_ts",
    ]
    assert st_["stationId"].dataType.simpleString() == "int"
    assert st_["value"].dataType.simpleString() == "double"


def test_confluent_framed_decode_end_to_end(spark):
    """encode → 5-byte header → Spark binary column → header checks →
    strip + decode via mapInPandas → flattened values match the input."""
    from pyspark.sql import functions as F

    recs = [
        {
            "timeObserved": f"2024-01-01T00:00:{i:02d}Z",
            "stationId": 600 + i,
            "stationName": f"st{i}",
            "metric": "temp_dry",
            "value": i * 0.5 - 1,
            "producer_ts": 1700000000000 + i,
        }
        for i in range(5)
    ]
    rows = [(bytes([0]) + (42).to_bytes(4, "big")
             + encode_record(WEATHER_SCHEMA, r),) for r in recs]
    df = spark.createDataFrame(rows, "value binary")

    hdr = df.select(
        is_confluent_framed(F.col("value")).alias("framed"),
        confluent_schema_id(F.col("value")).alias("sid"),
    ).collect()
    assert all(r["framed"] and r["sid"] == 42 for r in hdr)

    out = decode_avro_value_python(df, WEATHER_SCHEMA, framed=True)
    got = sorted(
        (
            r["data"]["stationId"],
            r["data"]["timeObserved"],
            r["data"]["value"],
            r["data"]["producer_ts"],
        )
        for r in out.collect()
    )
    assert got == sorted(
        (r["stationId"], r["timeObserved"], r["value"], r["producer_ts"])
        for r in recs
    )


def test_header_roundtrip_via_spark(spark):
    """add_confluent_header output parses back with the same expressions
    used on the read side."""
    from pyspark.sql import functions as F

    payload = encode_record(WEATHER_SCHEMA, {
        "timeObserved": "t", "stationId": 1, "stationName": "s",
        "metric": "m", "value": 0.0, "producer_ts": 0,
    })
    df = spark.createDataFrame([(payload,)], "p binary").select(
        add_confluent_header(F.col("p"), 7).alias("value")
    )
    row = df.select(
        confluent_schema_id(F.col("value")).alias("sid"),
        is_confluent_framed(F.col("value")).alias("framed"),
    ).collect()[0]
    assert row["sid"] == 7 and row["framed"]
    out = decode_avro_value_python(df, WEATHER_SCHEMA, framed=True)
    assert out.collect()[0]["data"]["stationId"] == 1


def test_decode_avro_value_public_path(spark):
    """S2's public entry decodes framed records regardless of whether
    spark-avro is on the classpath (JVM from_avro, or the Python codec
    fallback) and feeds flatten_payload unchanged."""
    from pyspark.sql import functions as F

    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        flatten_payload,
    )

    rec = {
        "timeObserved": "2024-06-01T12:00:00Z",
        "stationId": 601,
        "stationName": "st",
        "metric": "temp_dry",
        "value": 21.5,
        "producer_ts": 1717243200000,
    }
    framed = bytes([0]) + (9).to_bytes(4, "big") + encode_record(
        WEATHER_SCHEMA, rec
    )
    df = spark.createDataFrame([(framed,)], "value binary")
    flat = flatten_payload(decode_avro_value(df, WEATHER_SCHEMA))
    got = flat.collect()[0]
    assert got["stationId"] == 601
    assert got["metric"] == "temp_dry"
    assert got["value"] == 21.5


def test_decode_tombstone_yields_null_struct(spark):
    """A null Kafka value (tombstone) decodes to data = NULL — the same
    shape the JVM from_avro path produces — instead of raising in the
    pandas batch loop."""
    rec = {
        "timeObserved": "2024-06-01T12:00:00Z",
        "stationId": 601,
        "stationName": "st",
        "metric": "temp_dry",
        "value": 21.5,
        "producer_ts": 1717243200000,
    }
    framed = bytes([0]) + (9).to_bytes(4, "big") + encode_record(
        WEATHER_SCHEMA, rec
    )
    df = spark.createDataFrame([(framed,), (None,)], "value binary")
    rows = decode_avro_value_python(df, WEATHER_SCHEMA, framed=True).collect()
    by_null = {r["value"] is None: r for r in rows}
    assert by_null[True]["data"] is None
    assert by_null[False]["data"]["stationId"] == 601


def test_from_avro_jvm_parity_or_documented_probe(spark):
    """spark-avro wiring probe (sources/kafka.py:decode_avro_value).

    Offline probe result in this container: /opt/spark/jars ships only
    Avro CORE (avro-1.12.1 serialization lib), not the spark-avro data
    source module, and there is no network to resolve --packages — so
    the JVM from_avro path raises AVRO_NOT_LOADED at analysis. This test
    self-adjusts: if a future environment has spark-avro, it executes
    the real from_avro against the spec-exact fixture bytes and asserts
    parity with the Python codec; otherwise it pins that the failure is
    the *recognized* missing-jar signature (strict mode raises, default
    mode warns and falls back to an identical decode)."""
    import warnings as _w

    from pyspark.errors import AnalysisException

    from sparkksqldbbenchmark_spark.sources.kafka import (
        _is_missing_avro_error,
        decode_avro_value,
    )

    rec = {
        "timeObserved": "2024-06-01T12:00:00Z",
        "stationId": 700,
        "stationName": "st",
        "metric": "temp_dry",
        "value": -3.25,
        "producer_ts": 1717243200123,
    }
    framed = bytes([0]) + (5).to_bytes(4, "big") + encode_record(
        WEATHER_SCHEMA, rec
    )
    df = spark.createDataFrame([(framed,)], "value binary")

    jvm_rows = None
    try:
        jvm_rows = (
            decode_avro_value(df, WEATHER_SCHEMA, python_fallback=False)
            .select("data.*")
            .collect()
        )
    except AnalysisException as exc:
        assert _is_missing_avro_error(exc), (
            f"unrecognized from_avro failure (not a missing jar): {exc}"
        )

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        fallback_rows = (
            decode_avro_value(df, WEATHER_SCHEMA)  # default: fallback on
            .select("data.*")
            .collect()
        )
    got = fallback_rows[0].asDict()
    assert got == rec
    if jvm_rows is None:
        # fallback must be loud, not silent
        assert any("Avro codec" in str(w.message) for w in caught)
    else:
        assert [r.asDict() for r in jvm_rows] == [rec]


def test_probe_avro_path_names_executable_codec(spark):
    """probe_avro_path must report the codec a decode would ACTUALLY run
    — "jvm" only when a real one-row from_avro decode succeeds (the
    pyspark wrapper importing is not enough: the data-source jar can be
    absent and only fail at analysis). In this container the jar is
    absent by design, so the probe must degrade to "python", matching
    the documented fallback the other tests exercise; on a cluster with
    spark-avro loaded the same probe reports "jvm"."""
    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        probe_avro_path,
    )

    path = probe_avro_path(spark)
    assert path in ("jvm", "python")
    if path == "jvm":
        # must not be a false positive: the strict no-fallback decode
        # has to work end-to-end
        df = spark.createDataFrame([(bytes([0x02]),)], "value binary")
        schema = ('{"type":"record","name":"P",'
                  '"fields":[{"name":"x","type":"long"}]}')
        got = decode_avro_value(
            df, schema, framed=False, python_fallback=False
        ).collect()
        assert got[0]["data"]["x"] == 1
    else:
        import pytest

        df = spark.createDataFrame([(bytes([0x02]),)], "value binary")
        schema = ('{"type":"record","name":"P",'
                  '"fields":[{"name":"x","type":"long"}]}')
        with pytest.raises(Exception):
            decode_avro_value(
                df, schema, framed=False, python_fallback=False
            ).collect()


def test_from_avro_jvm_strict_parity_when_jar_present(spark):
    """PURE JVM-path parity — SKIPPED-with-reason while spark-avro is
    absent (this container ships only Avro core and has no network for
    --packages), and runs automatically the day the jar appears on the
    classpath: a framed weather record decoded by from_avro must equal
    the Python codec's decode value-for-value. The sibling test above
    pins the recognized-failure contract either way; this one makes the
    env-gated JVM gap visible in the pytest summary (same pattern as the
    protobuf-gated transformWithStateInPandas skip)."""
    import pytest

    from sparkksqldbbenchmark_spark.sources.kafka import (
        decode_avro_value,
        probe_avro_path,
    )

    if probe_avro_path(spark) != "jvm":
        pytest.skip(
            "spark-avro data source not on the classpath (container has "
            "no spark-avro jar and no network to resolve --packages); "
            "this parity test activates automatically when it is"
        )

    rec = {
        "timeObserved": "2024-06-01T12:00:00Z",
        "stationId": 700,
        "stationName": "st",
        "metric": "temp_dry",
        "value": -3.25,
        "producer_ts": 1717243200123,
    }
    framed = bytes([0]) + (5).to_bytes(4, "big") + encode_record(
        WEATHER_SCHEMA, rec
    )
    df = spark.createDataFrame([(framed,)], "value binary")
    jvm = (
        decode_avro_value(df, WEATHER_SCHEMA, python_fallback=False)
        .select("data.*")
        .collect()
    )
    py = (
        decode_avro_value(df, WEATHER_SCHEMA)
        .select("data.*")
        .collect()
    )
    assert [r.asDict() for r in jvm] == [r.asDict() for r in py] == [rec]


def test_decode_double_nan_is_not_null(spark):
    """Avro `double` NaN decodes to NaN, not NULL: the Arrow batch is built
    from the decoded Python values, with no pandas NaN-as-missing step."""
    import math

    rec = {
        "timeObserved": "2024-06-01T12:00:00Z",
        "stationId": 601,
        "stationName": "st",
        "metric": "temp_dry",
        "value": float("nan"),
        "producer_ts": 1717243200000,
    }
    framed = bytes([0]) + (9).to_bytes(4, "big") + encode_record(
        WEATHER_SCHEMA, rec
    )
    df = spark.createDataFrame([(framed,)], "value binary")
    got = decode_avro_value_python(df, WEATHER_SCHEMA).collect()[0]["data"]
    assert got["value"] is not None and math.isnan(got["value"])


def test_decode_long_exact_next_to_tombstone(spark):
    """A tombstone in the same Arrow batch as records leaves every `long`
    exact (no float64 detour: 2**62 + 1 must not come back as 2**62),
    still yields data = NULL, and keeps the `data` struct's Spark schema."""
    longs = [2**62 + 1, -(2**63), 2**63 - 1]
    rows = [
        (bytes([0]) + (9).to_bytes(4, "big") + encode_record(WEATHER_SCHEMA, {
            "timeObserved": "2024-06-01T12:00:00Z",
            "stationId": i,
            "stationName": "st",
            "metric": "temp_dry",
            "value": 1.5,
            "producer_ts": ts,
        }),)
        for i, ts in enumerate(longs)
    ] + [(None,)]
    df = spark.createDataFrame(rows, "value binary").coalesce(1)
    out = decode_avro_value_python(df, WEATHER_SCHEMA)

    # every field nullable, as before: a tombstone nulls the whole row
    data_field = out.schema["data"]
    assert data_field.nullable
    assert [
        (f.name, f.dataType, f.nullable) for f in data_field.dataType.fields
    ] == [
        (f.name, f.dataType, True)
        for f in spark_schema_for(WEATHER_SCHEMA).fields
    ]
    got = out.collect()
    assert [r["data"] for r in got if r["value"] is None] == [None]
    assert sorted(
        (r["data"]["stationId"], r["data"]["producer_ts"])
        for r in got
        if r["value"] is not None
    ) == list(enumerate(longs))


def test_decode_truncated_record_raises(spark):
    """A record cut short inside its last field fails the task with the
    codec's own error rather than decoding garbage or NULL."""
    import pytest
    from pyspark.errors import PythonException

    body = encode_record(WEATHER_SCHEMA, {
        "timeObserved": "t", "stationId": 1, "stationName": "s",
        "metric": "m", "value": 0.0, "producer_ts": 2**40,
    })
    framed = bytes([0]) + (9).to_bytes(4, "big") + body[:-1]
    df = spark.createDataFrame([(framed,)], "value binary")
    with pytest.raises(PythonException, match="IndexError"):
        decode_avro_value_python(df, WEATHER_SCHEMA).collect()


# Runs in its own local[1] application, so that both probes and the decode
# between them land in the one reused Python worker.
_FINDER_PROBE = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark
from sparkksqldbbenchmark_spark.sources.avro_codec import (
    decode_avro_value_python,
)

FRESH = "pyspark.instrumentation_utils"


def probe(it):
    import os, sys, zipimport

    list(it)
    out = {
        "pid": os.getpid(),
        "zips": sorted(p for p, f in sys.path_importer_cache.items()
                       if isinstance(f, zipimport.zipimporter)),
        "pyspark_file": sys.modules["pyspark"].__file__,
    }
    yield pa.record_batch([pa.array([json.dumps(out)])], names=["out"])


def probe_and_import(it):
    import importlib, sys

    list(it)
    out = {"fresh_preloaded": FRESH in sys.modules}
    out["fresh_file"] = importlib.import_module(FRESH).__file__
    yield pa.record_batch([pa.array([json.dumps(out)])], names=["out"])


spark = get_spark(SessionConfig(master="local[1]", shuffle_partitions=1,
                                app_name="finder-probe"))
spark.sparkContext.setLogLevel("ERROR")


def run(fn):
    return json.loads(spark.range(1, numPartitions=1)
                      .mapInArrow(fn, "out string").collect()[0]["out"])


before = run(probe)
schema = ('{"type":"record","name":"P",'
          '"fields":[{"name":"x","type":"long"}]}')
df = spark.createDataFrame([(bytes([0x02]),)], "value binary").coalesce(1)
assert decode_avro_value_python(df, schema, framed=False).collect()[0]["data"]["x"] == 1
after = run(probe)
imported = run(probe_and_import)
print(json.dumps({"before": before, "after": after, "imported": imported}))
spark.stop()
"""


def test_decode_task_drops_zip_finders_in_reused_worker():
    """After a decode task, the next Python task in the same worker finds
    no cached zipimport finder (the per-task invalidate_caches cost), and
    a pyspark submodule never imported before still imports."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, "-c", _FINDER_PROBE, repo],
        cwd=repo, capture_output=True, text=True, timeout=240,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    before, after, imported = got["before"], got["after"], got["imported"]
    assert before["pid"] == after["pid"], "probes ran in different workers"
    assert after["zips"] == []
    assert not imported["fresh_preloaded"]
    if ".zip" in before["pyspark_file"]:
        # the worker imports pyspark from pyspark.zip: it must still do so
        assert before["zips"], "worker never cached a zip finder"
        assert ".zip" in imported["fresh_file"]
