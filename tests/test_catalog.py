"""catalog.load_table infers a table file's schema once per Python
process: a repeat load runs no Spark job, and any rewrite of the file
(or a change of an inference conf) is seen on the next load, with the
ts / NTZ normalization applied on both paths."""

from __future__ import annotations

import datetime as dt
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from sparkksqldbbenchmark_spark import catalog
from sparkksqldbbenchmark_spark.catalog import load_table
from tests.conftest import SF_DIR


def _jobs_of(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job ids)."""
    sc = spark.sparkContext
    group = f"catalog_{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_load_runs_no_spark_job(spark):
    for name in ("events", "lineitem"):
        first = load_table(spark, SF_DIR, name)
        again, jobs = _jobs_of(spark, lambda: load_table(spark, SF_DIR, name))
        assert jobs == [], f"{name}: repeat load ran jobs {jobs}"
        assert again.schema == first.schema
        assert _rows(again) == _rows(first)


def test_rewrite_same_path_sees_new_schema(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([dt.datetime(2024, 1, 1, 0, 0, 1)], pa.timestamp("us")),
            "x": pa.array([1], pa.int64()),
        }),
        path,
    )
    v1 = load_table(spark, d, "t")
    assert v1.schema.simpleString() == "struct<ts:timestamp,x:bigint>"
    assert _rows(v1) == [(dt.datetime(2024, 1, 1, 0, 0, 1), 1)]
    mtime = os.stat(path).st_mtime_ns

    # same path, same mtime: an added column and timestamp[ns] nanos,
    # negative ones included, which the loader floors to microseconds
    nanos = [1_700_000_000_123_456_789, -1]
    pq.write_table(
        pa.table({
            "ts": pa.array(nanos, pa.timestamp("ns")),
            "x": pa.array([2, 3], pa.int64()),
            "y": pa.array(["a", "b"]),
        }),
        path,
    )
    os.utime(path, ns=(mtime, mtime))
    v2, jobs = _jobs_of(spark, lambda: load_table(spark, d, "t"))
    assert jobs, "a rewritten file must be inferred again"
    assert v2.schema.simpleString() == "struct<ts:timestamp,x:bigint,y:string>"
    got = {r.x: r.ts for r in v2.collect()}
    epoch = dt.datetime(1970, 1, 1)
    assert got[2] == epoch + dt.timedelta(microseconds=1_700_000_000_123_456)
    assert got[3] == epoch - dt.timedelta(microseconds=1)


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"b": pa.array([b"hi"], pa.binary())}), f"{d}/b.parquet")
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, d, "b").schema.simpleString() == "struct<b:binary>"
        spark.conf.set(key, "true")
        as_str = load_table(spark, d, "b")
        assert as_str.schema.simpleString() == "struct<b:string>"
        assert as_str.collect()[0].b == "hi"
    finally:
        spark.conf.set(key, before)


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_SIZE", 2)
    d = str(tmp_path)
    for i in range(3):
        pq.write_table(pa.table({f"c{i}": [i]}), f"{d}/m{i}.parquet")
        assert load_table(spark, d, f"m{i}").columns == [f"c{i}"]
    assert len(catalog._schema_memo) <= 2


def test_directory_dataset_is_not_memoized(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(f"{d}/dir.parquet")
    load_table(spark, d, "dir")
    _, jobs = _jobs_of(spark, lambda: load_table(spark, d, "dir"))
    assert jobs, "a directory dataset is inferred on every load"


def test_schema_memo_threads_keep_the_bound(monkeypatch):
    """Concurrent loads share the memo: with more threads than cores and
    a short switch interval, it never outgrows its bound and every hit
    returns the schema stored under its key."""
    import sys
    import threading
    from collections import OrderedDict

    from pyspark.sql.types import LongType, StructField, StructType

    monkeypatch.setattr(catalog, "_schema_memo", OrderedDict())
    monkeypatch.setattr(catalog, "_SCHEMA_MEMO_SIZE", 8)
    schemas = [StructType([StructField(f"c{i}", LongType())]) for i in range(32)]
    errors = []

    def worker(seed):
        try:
            for n in range(2000):
                i = (seed * 7 + n) % len(schemas)
                key = (f"/t{i}", b"", ())
                got = catalog._schema_memo_get(key)
                if got is not None and got != schemas[i]:
                    errors.append((key, got))
                catalog._schema_memo_put(key, schemas[i])
                with catalog._schema_memo_lock:
                    if len(catalog._schema_memo) > 8:
                        errors.append(("size", len(catalog._schema_memo)))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,)) for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
