"""TESTDATA table catalog.

Loads the driver-generated parquet tables (TESTDATA.md) and registers them
as temp views so both the DataFrame API and the SQL front door see the same
relations. Parquet scans get predicate pushdown + column pruning from
Catalyst for free; loaders never collect.

A table file's schema is inferred once per Python process. Spark infers
a Parquet schema with a Spark job (ParquetFileFormat.mergeSchemasInParallel)
on every `spark.read.parquet(path)`, even for a file it has already read:
one such load costs about 100-200 ms and runs one job, the same read with
a known schema 25-45 ms and no job (local[4] on a 4-core x86 VM, median
of 10 warm loads each of events, lineitem, orders and embeddings at
sf0.1). `load_table` therefore memoizes the inferred schema of each
single-file table in a bounded LRU keyed by

- the file's real path and a digest of its Parquet footer (the last
  8 + footer_len bytes, read by this process), so any rewrite of the file
  misses, including a same-size rewrite within one mtime tick;
- the session's values of the confs that change Parquet schema
  inference (_INFERENCE_CONFS).

A miss infers with `spark.read.parquet(path)`; every load then reads
with `spark.read.schema(schema).parquet(path)`. Directory datasets and
paths this process cannot open as a local file are inferred on every load.
"""

from __future__ import annotations

import hashlib
import os
import struct
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_confs(spark: SparkSession) -> None:
    """Make any externally-created SparkSession (e.g. the driver's) able
    to run our plans deterministically: timestamp[ns] parquet handling and
    UTC timestamp rendering (oracle comparisons format timestamps as
    strings — a non-UTC session would shift them). Both are runtime
    confs. ANSI mode (Spark 4 default: on) is disabled to match the
    reference's permissive arithmetic — corr/ratio divisions over empty
    or constant groups must yield NULL, not DIVIDE_BY_ZERO."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    return _normalize_nanos(spark.read.schema(parquet_schema(spark, path)).parquet(path))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers from one Parquet file's footer, from the
    memo load_table keeps."""
    key = _schema_key(spark, path)
    schema = _schema_memo_get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _schema_memo_put(key, schema)
    return schema


# Session confs that change the schema Spark infers from a Parquet footer.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
)
_SCHEMA_MEMO_SIZE = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """(real path, footer digest, inference confs) of a single Parquet
    file; None when the path is not a readable local Parquet file."""
    real = os.path.realpath(path)
    try:
        with open(real, "rb") as f:
            f.seek(-8, os.SEEK_END)
            tail = f.read(8)
            if tail[4:] != b"PAR1":
                return None
            (footer_len,) = struct.unpack("<I", tail[:4])
            f.seek(-(8 + footer_len), os.SEEK_END)
            footer = f.read(8 + footer_len)
    except OSError:  # a directory dataset, a remote URI, a short file
        return None
    confs = tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)
    return real, hashlib.sha256(footer).digest(), confs


def _schema_memo_get(key: tuple | None) -> StructType | None:
    if key is None:
        return None
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
        return schema


def _schema_memo_put(key: tuple | None, schema: StructType) -> None:
    if key is None:
        return
    with _schema_memo_lock:
        _schema_memo[key] = schema
        _schema_memo.move_to_end(key)
        while len(_schema_memo) > _SCHEMA_MEMO_SIZE:
            _schema_memo.popitem(last=False)


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Normalize the `ts` column to TimestampType regardless of which
    parquet encoding the driver generated:

    - timestamp[ns] → int64 nanos under spark.sql.legacy.parquet.nanosAsLong:
      converted with the same ns→µs floor truncation DuckDB applies.
    - timestamp[us] (no tz) → Spark 4 reads it as TIMESTAMP_NTZ, which
      `withWatermark` / `unix_millis` / event-time windows reject. The
      session runs in UTC (ensure_session_confs), so a cast to TIMESTAMP
      is value-preserving: the wall-clock fields are reinterpreted as UTC
      instants, exactly how DuckDB reads the same file.

    The loader must not assume either encoding — the driver has switched
    between them across rounds."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            # EVERY NTZ temporal column (ts, o_orderdate, l_shipdate, …)
            # — not just `ts`: an NTZ column is a latent failure for any
            # future watermark/unix_millis use, and the UTC cast is
            # value-preserving for all of them.
            df = df.withColumn(
                field.name, F.col(field.name).cast("timestamp")
            )
        elif field.name == "ts" and isinstance(field.dataType, LongType):
            # Exact FLOOR division in integer space: `/` would promote to
            # double, whose 256 ns ulp at epoch-nano magnitude shifts the
            # floored microsecond by ±1 (exposed by µs-precision joins);
            # bare `div` truncates toward zero, which diverges from floor
            # for pre-1970 (negative) nanos. pmod makes the remainder
            # non-negative so the subtraction floors for either sign.
            df = df.withColumn(
                "ts",
                F.timestamp_micros(
                    F.expr("(ts - pmod(ts, 1000)) div 1000")
                ),
            )
    return df


def load_all(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load every table and register `<name>` temp views.

    Delegates to load_table so registered views get the same session
    confs and ns→µs timestamp normalization as direct loads — a view
    exposing raw int64 nanos would silently break time queries."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
