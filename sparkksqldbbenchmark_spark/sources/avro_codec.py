"""Minimal pure-Python Avro binary codec for flat record schemas.

The production decode path is spark-avro's from_avro (sources/kafka.py
decode_avro_value, reference SparkWeatherConsumer.scala:201-211). This
container has neither spark-avro nor a Python avro library, so S2/S3
would otherwise only ever exercise the 5-byte Confluent framing — never
actual Avro bytes. This module implements the Avro 1.x BINARY encoding
(public spec, https://avro.apache.org/docs/current/specification/) for
the subset the reference's schemas need — flat records of primitives and
``["null", T]`` unions:

- int/long: zigzag-encoded variable-length integers
- float/double: little-endian IEEE 754
- string/bytes: long-prefixed payload
- boolean: single byte; null: zero bytes
- union ["null", T]: long branch index then the branch encoding

Output bytes are identical to what the reference's KafkaAvroSerializer
produces after its 5-byte header (same spec, same field order), so the
end-to-end test — encode → add_confluent_header → Spark binary column →
strip_confluent_header → decode — exercises the real wire format.

Spark integration decodes via mapInArrow (Arrow batches, blobs never on
the driver). Columns are built from the decoded Python values, with no
pandas step, so a NaN double stays NaN and a long stays an exact int64
even when a tombstone shares its batch. At 100 TB the JVM from_avro path
is the right tool; this is the documented degradation contract, not a
replacement.

The Python boundary has a fixed cost per task, apart from the decode
itself. pyspark begins each task in a reused worker with
``importlib.invalidate_caches()``, and on CPython 3.11 every cached
``zipimporter`` re-reads its archive's directory there (16 finders over
pyspark.zip, the py4j zip and the spark-core jar). On a 4-core x86 VM, a
trivial 3-task mapInArrow job on local[1] took 0.63 s (JVM-only job:
0.13 s); dropping those finders at the start of each task brought it to
0.25 s. The decode task therefore drops them (``_drop_zip_finders``);
imports rebuild them on demand.
"""

from __future__ import annotations

import json
import struct
import sys
import zipimport
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    BinaryType,
    StructField,
    StructType,
)

# --------------------------------------------------------------- varint --


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = data[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (u >> 1) ^ -(u & 1), pos


# ---------------------------------------------------------------- codec --

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "string", "bytes"}


def _encode_value(typ, v) -> bytes:
    if isinstance(typ, list):  # union: branch index then branch value
        if v is None and "null" in typ:
            return _zigzag_encode(typ.index("null"))
        branch = next(
            i for i, t in enumerate(typ) if t != "null"
        )
        return _zigzag_encode(branch) + _encode_value(typ[branch], v)
    if typ == "null":
        return b""
    if typ == "boolean":
        return bytes([1 if v else 0])
    if typ in ("int", "long"):
        return _zigzag_encode(int(v))
    if typ == "float":
        return struct.pack("<f", v)
    if typ == "double":
        return struct.pack("<d", v)
    if typ == "string":
        raw = v.encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if typ == "bytes":
        return _zigzag_encode(len(v)) + v
    raise ValueError(f"unsupported avro type: {typ!r}")


def _decode_value(typ, data: bytes, pos: int):
    if isinstance(typ, list):
        branch, pos = _zigzag_decode(data, pos)
        return _decode_value(typ[branch], data, pos)
    if typ == "null":
        return None, pos
    if typ == "boolean":
        return data[pos] == 1, pos + 1
    if typ in ("int", "long"):
        return _zigzag_decode(data, pos)
    if typ == "float":
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if typ == "double":
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if typ == "string":
        n, pos = _zigzag_decode(data, pos)
        return data[pos : pos + n].decode("utf-8"), pos + n
    if typ == "bytes":
        n, pos = _zigzag_decode(data, pos)
        return bytes(data[pos : pos + n]), pos + n
    raise ValueError(f"unsupported avro type: {typ!r}")


def _fields(schema: dict | str) -> list[tuple[str, object]]:
    if isinstance(schema, str):
        schema = json.loads(schema)
    if schema.get("type") != "record":
        raise ValueError("only flat record schemas are supported")
    return [(f["name"], f["type"]) for f in schema["fields"]]


def encode_record(schema: dict | str, record: dict) -> bytes:
    """Record encoding = field encodings concatenated in schema order."""
    return b"".join(
        _encode_value(t, record[name]) for name, t in _fields(schema)
    )


def decode_record(schema: dict | str, data: bytes) -> dict:
    out = {}
    pos = 0
    for name, t in _fields(schema):
        out[name], pos = _decode_value(t, data, pos)
    return out


# ------------------------------------------------------ spark integration --

_SPARK_TYPES: dict[str, DataType] = {
    "boolean": BooleanType(),
    "int": IntegerType(),
    "long": LongType(),
    "float": FloatType(),
    "double": DoubleType(),
    "string": StringType(),
    "bytes": BinaryType(),
}


def spark_schema_for(schema: dict | str) -> StructType:
    """Avro record schema → Spark StructType (same mapping spark-avro
    applies to flat records; unions with null become nullable fields)."""
    fields = []
    for name, t in _fields(schema):
        nullable = isinstance(t, list)
        base = next(x for x in t if x != "null") if nullable else t
        fields.append(StructField(name, _SPARK_TYPES[base], nullable))
    return StructType(fields)


def _drop_zip_finders() -> None:
    """Forget the worker's cached zipimport finders (rebuilt on demand),
    so pyspark's per-task ``invalidate_caches()`` no longer re-reads their
    archives (see the module docstring). Called at the start of each task,
    not once: later top-level imports re-create some of them."""
    cache = sys.path_importer_cache
    for path in [
        p for p, f in cache.items() if isinstance(f, zipimport.zipimporter)
    ]:
        del cache[path]


def decode_avro_value_python(
    df: DataFrame,
    avro_schema_json: str,
    *,
    framed: bool = True,
    value_col: str = "value",
) -> DataFrame:
    """Degradation-path twin of decode_avro_value: same framing handling
    (strip_confluent_header expression) but the Avro body is decoded by
    this module inside mapInArrow instead of spark-avro's from_avro.
    Output schema matches from_avro's flat-record mapping, so downstream
    plans (flatten_payload etc.) are unchanged."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from sparkksqldbbenchmark_spark.sources.kafka import (
        strip_confluent_header,
    )

    schema = json.loads(avro_schema_json)
    struct_type = spark_schema_for(schema)
    names = struct_type.names
    payload = (
        strip_confluent_header(F.col(value_col))
        if framed
        else F.col(value_col)
    )
    stripped = df.withColumn("__avro_payload", payload)
    # decoded fields carry a __avro_ prefix in the flat frame so record
    # field names (e.g. the weather schema's `value`) can't collide with
    # Kafka columns; the struct packing below restores the real names
    # the flat __avro_ fields are always nullable regardless of the Avro
    # schema: a tombstone (null payload) nulls every field of its row
    decoded_fields = [
        StructField(f"__avro_{f.name}", f.dataType, True)
        for f in struct_type.fields
    ]
    out_schema = StructType(
        [f for f in stripped.schema.fields if f.name != "__avro_payload"]
        + decoded_fields
    )
    arrow_fields = [
        pa.field(f.name, to_arrow_type(f.dataType)) for f in decoded_fields
    ]

    null_record = {n: None for n in names}

    def batches(it: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        _drop_zip_finders()
        for rb in it:
            # Kafka tombstones (null values) decode to all-null fields so
            # the packed struct below can become a null struct, matching
            # from_avro's output.
            decoded = [
                null_record if b is None else decode_record(schema, b)
                for b in rb.column("__avro_payload").to_pylist()
            ]
            kept = rb.drop_columns(["__avro_payload"])
            yield pa.RecordBatch.from_arrays(
                kept.columns
                + [pa.array([d[n] for d in decoded], type=af.type)
                   for n, af in zip(names, arrow_fields)],
                schema=pa.schema(list(kept.schema) + arrow_fields),
            )

    flat = stripped.mapInArrow(batches, out_schema)
    # package the record fields as a `data` struct — the same shape
    # decode_avro_value produces, so flatten_payload works on either.
    # A null payload yields data = NULL (not a struct of nulls), the same
    # as the JVM from_avro path on a tombstone.
    keep = [f.name for f in df.schema.fields]
    packed = F.struct(*[F.col(f"__avro_{n}").alias(n) for n in names])
    return flat.select(
        *keep,
        F.when(F.col(value_col).isNull(), F.lit(None).cast(struct_type))
        .otherwise(packed)
        .alias("data"),
    )
