"""Train the driver JVM's class-data-sharing archive from a fixed start-up.

    python -m sparkksqldbbenchmark_spark.cds_training

session.get_spark maps a dynamic CDS archive (JEP 350) when one exists for
its key, and otherwise runs this module once its own process exits. The
archive holds the classes one JVM loaded, so it is written by a JVM that
always runs the same work: the engine's batch queries of every layer (the
ksql front door and windowing, relational joins, the Arrow/Python
boundary) on a few hundred generated rows, and a micro-batch of the Avro
weather stream. What the archive holds therefore does not depend on which
program started the engine first.

Under an exclusive lock on ``cds/train.lock`` the trainer deletes the
pending archive and work dir that an interrupted training left, writes
``pending-<key>.jsa`` at its JVM's exit, and publishes it as ``<key>.jsa``
with ``os.replace`` only after a JVM maps it with ``-Xshare:on`` and every
region's checksum; then it deletes the archives of other keys. It prints
nothing to stdout; problems go to stderr, one line each.
"""

from __future__ import annotations

import fcntl
import glob
import logging
import os
import shutil
import subprocess
import sys
import tempfile
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.find_spark_home import _find_spark_home

from sparkksqldbbenchmark_spark import session

_LOG = logging.getLogger(__name__)

# The batch queries the trainer runs: the reference-parity analytics over
# events and the TPC-H tables, and two curation queries (Python UDFs over
# Arrow, array arithmetic).
QUERIES = (
    "weather_window_agg", "weather_window_agg_by_station", "union_streams_agg",
    "latency_percentiles", "multiway_timejoin_ffill", "per_station_accumulation",
    "ksql_windowed_table", "tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
    "similarity_topk_cosine", "text_quality_scores",
)
_WORDS = np.array("the quick brown fox jumps over a lazy dog and der die das "
                  "el la de le un 的 data stream window".split())


def _ts_us(seconds: np.ndarray) -> pa.Array:
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def write_tables(directory: str, n: int = 400) -> None:
    """The tables QUERIES read, ``<name>.parquet``, with the TESTDATA column
    types; ``n`` rows each (embeddings: n // 4)."""
    rng = np.random.default_rng(0)
    pick = lambda values, k: np.array(values)[rng.integers(0, len(values), k)]  # noqa: E731
    texts = [" ".join(pick(_WORDS, k)) for k in rng.integers(5, 30, n)]
    n_emb = n // 4
    tables = {
        "events": {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts_us(np.sort(rng.uniform(0, 3 * 86400, n))),
            "user_id": pa.array(rng.integers(0, 20, n), pa.int64()),
            "event_type": pa.array(pick(["click", "error", "purchase", "signup", "view"], n)),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 9, n)]),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": pa.array(rng.integers(-9999, 99999, n) / 100),
            "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "MACHINERY"], n)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n, n), pa.int64()),
            "o_orderstatus": pa.array(pick(["F", "O", "P"], n)),
            "o_totalprice": pa.array(rng.integers(1000, 500000, n) / 100),
            "o_orderdate": _ts_us(rng.integers(-800, 800, n) * 86400.0 - 9 * 365 * 86400),
            "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "5-LOW"], n)),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(900, 105000, n) / 100),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100),
            "l_returnflag": pa.array(pick(["A", "N", "R"], n)),
            "l_linestatus": pa.array(pick(["F", "O"], n)),
            "l_shipdate": _ts_us(rng.integers(-800, 800, n) * 86400.0 - 9 * 365 * 86400),
        },
        "documents": {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(pick(["en", "de", "es", "zh"], n)),
            "source": pa.array([f"src{i % 5}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(rng.normal(0, 0.2, (n_emb, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(directory, f"{name}.parquet"))


def write_weather_files(directory: str, n: int = 200) -> list[str]:
    """Two topics' directories of Parquet files with one binary ``value``
    column, each value a Confluent-framed Avro WeatherData record."""
    from sparkksqldbbenchmark_spark.schemas import WEATHER_DATA_AVRO
    from sparkksqldbbenchmark_spark.sources.avro_codec import encode_record

    dirs = []
    for topic in ("temperature", "humidity"):
        d = os.path.join(directory, "in", topic)
        os.makedirs(d)
        values = [b"\x00\x00\x00\x00\x01" + encode_record(WEATHER_DATA_AVRO, {
            "timeObserved": "2024-01-01T00:00:00+00:00", "stationId": i % 7,
            "stationName": f"station-{i % 7}", "metric": topic,
            "value": i / 10, "producer_ts": 1_704_067_200_000 + i * 50,
        }) for i in range(n)]
        for j in range(2):
            pq.write_table(pa.table({"value": pa.array(values[j::2], pa.binary())}),
                           os.path.join(d, f"part-{j}.parquet"))
        dirs.append(d)
    return dirs


def exercise(spark, work: str) -> None:
    """The fixed work whose classes the archive keeps, on four threads."""
    from pyspark.sql import functions as F

    import sparkksqldbbenchmark_spark.plans.ksql_queries  # noqa: F401
    import sparkksqldbbenchmark_spark.plans.llm_queries  # noqa: F401
    import sparkksqldbbenchmark_spark.plans.reference_queries  # noqa: F401
    from sparkksqldbbenchmark_spark.operators.windowed_agg import tumbling_window_agg
    from sparkksqldbbenchmark_spark.plans.registry import QUERIES as REGISTERED
    from sparkksqldbbenchmark_spark.schemas import WEATHER_DATA_AVRO
    from sparkksqldbbenchmark_spark.sources.kafka import decode_avro_value, flatten_payload

    tables = os.path.join(work, "tables")
    os.makedirs(tables)
    write_tables(tables)
    dirs = write_weather_files(work)

    def stream() -> None:
        reader = spark.readStream.schema("value binary")
        flats = [flatten_payload(decode_avro_value(reader.parquet(d), WEATHER_DATA_AVRO))
                 for d in dirs]
        agg = tumbling_window_agg(
            flats[0].unionByName(flats[1]).withColumn("ts", F.timestamp_millis("producer_ts")),
            window_duration="3 seconds", keys=("metric", "stationId"),
            order_col="producer_ts", watermark="1 second")
        query = (agg.writeStream.foreachBatch(lambda df, _: df.collect())
                 .outputMode("update")
                 .option("checkpointLocation", os.path.join(work, "ckpt"))
                 .trigger(processingTime="1 second").start())
        query.processAllAvailable()
        query.stop()

    jobs = [stream, lambda: spark.range(1).mapInPandas(lambda it: it, "id long").count(),
            lambda: REGISTERED[QUERIES[0]](spark, tables).write.format("noop")
            .mode("overwrite").save()]
    jobs += [lambda q=q: REGISTERED[q](spark, tables).toArrow() for q in QUERIES]
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(job) for job in jobs]:
            f.result()


def _run(pending: str, conf_dir: str, work: str) -> str:
    """Start a JVM that dumps its classes to ``pending`` at exit, run the
    exercise, and wait for the JVM to exit; return its classpath."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    os.environ["SPARK_CONF_DIR"] = conf_dir
    os.environ["TMPDIR"] = tempfile.tempdir = work
    conf = session.SessionConfig(master="local[2]", shuffle_partitions=2, extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} "
        f"-XX:ArchiveClassesAtExit={pending} -XX:+VerifySharedSpaces {session._CDS_QUIET}",
    })
    builder = SparkSession.builder.appName("cds-training").master(conf.master)
    for k, v in conf.to_conf().items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    exercise(spark, work)
    classpath = spark._jvm.java.lang.System.getProperty("java.class.path")
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)  # the dump is written at JVM exit
    return classpath


def maps_cleanly(java: str, archive: str, classpath: str, cwd: str) -> bool:
    """Whether a JVM on the writer's classpath maps the archive with every
    region's checksum intact (a truncated archive crashes it: no hs_err)."""
    cmd = [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
           "-XX:+VerifySharedSpaces", f"-XX:ErrorFile={os.devnull}",
           "-cp", classpath, "-version"]
    try:
        return subprocess.run(cmd, cwd=cwd, capture_output=True,
                              timeout=120).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _remove(path: str, why: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        return
    _LOG.warning("class-data sharing: deleted %s: %s", os.path.basename(path), why)


def publish(cds: str, key: str, pending: str, classpath: str, java: str) -> bool:
    """Publish a written archive as ``<key>.jsa`` if a JVM on its classpath
    maps it cleanly, else delete it; then delete other keys' archives."""
    if not os.path.exists(pending):
        _LOG.warning("class-data sharing: the training JVM wrote no archive")
        return False
    if not maps_cleanly(java, pending, classpath, cds):
        _remove(pending, "a JVM does not map it cleanly")
        return False
    published = os.path.join(cds, f"{key}.jsa")
    os.replace(pending, published)
    for other in glob.glob(os.path.join(cds, "*.jsa")):
        if other != published:
            _remove(other, "archive of another key")
    return True


def main() -> int:
    logging.basicConfig(stream=sys.stderr, format="%(message)s")
    java = session._java()
    cds = session._cds_dir()
    conf_dir = os.path.join(cds, "conf")
    os.makedirs(conf_dir, exist_ok=True)
    key = session._cds_key(java, _find_spark_home())
    with open(os.path.join(cds, "train.lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except BlockingIOError:
            return 0  # another process is training
        for stale in glob.glob(os.path.join(cds, "pending-*")):
            _remove(stale, "left by a training run that did not finish")
        for stale in glob.glob(os.path.join(cds, "work-*")):
            shutil.rmtree(stale, ignore_errors=True)
        if os.path.exists(os.path.join(cds, f"{key}.jsa")):
            return 0
        pending = os.path.join(cds, f"pending-{key}.jsa")
        work = tempfile.mkdtemp(prefix="work-", dir=cds)
        try:
            classpath = _run(pending, conf_dir, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        return 0 if publish(cds, key, pending, classpath, java) else 1


if __name__ == "__main__":
    sys.exit(main())
