"""SparkSession factory exposing the reference's configuration surface.

The reference tunes Spark via env/argv (SparkWeatherConsumer.scala:14-51):
shuffle partitions, AQE, Kryo, state-store provider, event- vs
processing-time. We expose the same knobs as a dataclass and map them onto
SparkConf. Designed for cluster scale: AQE on (coalescing + skew-join),
UTC session timezone for deterministic timestamp semantics, Arrow enabled
for the Pandas-UDF extension surface.
"""

from __future__ import annotations

import atexit
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
import sys
from dataclasses import dataclass, field

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession


@dataclass
class SessionConfig:
    """Engine configuration (superset of the reference's env surface).

    Parity notes: shuffle_partitions ≈ SHUFFLE_PARTITIONS env
    (SparkWeatherConsumer.scala:20), aqe ≈ spark.sql.adaptive.* (:46-47),
    kryo ≈ :48, state store provider ≈ :50.
    """

    app_name: str = "sparkksqldbbenchmark-spark"
    master: str | None = None  # None → respect spark.master / local[*]
    shuffle_partitions: int = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    aqe: bool = True
    timezone: str = "UTC"
    # streaming
    state_store_provider: str | None = None  # None → Spark default (HDFS-backed)
    # scale knobs
    max_partition_bytes: str = "128m"
    broadcast_threshold: str = "64m"
    extra: dict[str, str] = field(default_factory=dict)

    def to_conf(self) -> dict[str, str]:
        conf = {
            "spark.sql.shuffle.partitions": str(self.shuffle_partitions),
            "spark.sql.adaptive.enabled": str(self.aqe).lower(),
            "spark.sql.adaptive.coalescePartitions.enabled": str(self.aqe).lower(),
            "spark.sql.adaptive.skewJoin.enabled": str(self.aqe).lower(),
            "spark.sql.session.timeZone": self.timezone,
            "spark.sql.files.maxPartitionBytes": self.max_partition_bytes,
            "spark.sql.autoBroadcastJoinThreshold": self.broadcast_threshold,
            "spark.sql.execution.arrow.pyspark.enabled": "true",
            "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
            # deterministic, ANSI-off cast semantics (errors='coerce' parity,
            # price_prediction.ipynb cell 3)
            "spark.sql.ansi.enabled": "false",
            "spark.ui.enabled": "false",
            # TESTDATA events.parquet stores timestamp[ns]; read the raw
            # int64 and convert in the loader (catalog.load_table) — DuckDB
            # applies the same ns→µs truncation.
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        }
        if self.state_store_provider:
            conf["spark.sql.streaming.stateStore.providerClass"] = (
                self.state_store_provider
            )
        conf.update(self.extra)
        return conf


def cluster_profile(**overrides) -> SessionConfig:
    """Recommended configuration for a real multi-executor deployment at
    large scale (vs the local-bench profile): AQE + skew-join on, RocksDB
    state store for large streaming state, shuffle partitions sized for
    ~128 MB post-shuffle partitions (tune to 2-3x total executor cores)."""
    cfg = SessionConfig(
        shuffle_partitions=2000,
        aqe=True,
        state_store_provider=(
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        extra={
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128m",
            "spark.sql.shuffle.spill.compress": "true",
            "spark.shuffle.file.buffer": "1m",
        },
    )
    for k, v in overrides.items():
        setattr(cfg, k, v)
    return cfg


# ---------------------------------------------------------------- start-up --
# Most of a driver JVM's start-up goes to loading and verifying the classes
# of $SPARK_HOME/jars. A dynamic class-data-sharing (CDS) archive (JEP 350)
# lets a JVM map those classes instead. One archive per machine and key
# lives under ${XDG_CACHE_HOME:-~/.cache}/sparkksqldbbenchmark_spark/cds/
# as <key>.jsa. A launch that finds none starts without it and, when its
# process exits, runs cds_training: a JVM that always runs the same work
# writes the archive, and it is published only after a JVM maps it
# cleanly. So what the archive holds does not depend on which program
# started the engine first, and no JVM maps a half-written archive.

_LOG = logging.getLogger(__name__)
_CLASSPATH_CONFS = ("spark.jars", "spark.jars.packages", "spark.driver.extraClassPath")
_CLASSPATH_ARGS = ("--jars", "--packages", "--driver-class-path") + _CLASSPATH_CONFS
# the launcher appends these to the driver classpath too
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
# a dump logs about a thousand [warning][cds] lines to stdout at JVM exit
_CDS_QUIET = "-Xlog:cds*=off"
_TRAINING = "sparkksqldbbenchmark_spark.cds_training"
_TRAIN_TIMEOUT_S = 240
_training_registered = False


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return os.path.join(cache, "sparkksqldbbenchmark_spark", "cds")


def _java() -> str | None:
    """The java binary bin/spark-class runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _cds_key(java: str, spark_home: str) -> str:
    """Hash of the Java identity, $SPARK_HOME, its jars' names and sizes,
    and the training code."""
    h = hashlib.sha256()
    release = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))),
                           "release")
    try:
        with open(release, "rb") as f:
            h.update(f.read())
    except OSError:
        h.update(subprocess.run([java, "-version"], capture_output=True).stderr)
    h.update(spark_home.encode())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        h.update(f"\0{name}\0{os.path.getsize(os.path.join(jars, name))}".encode())
    with open(os.path.join(os.path.dirname(__file__), "cds_training.py"), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:20]


def _cds_skip_reason(conf: dict[str, str], conf_dir: str) -> str | None:
    """Why CDS cannot apply to this launch, or None."""
    submit = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    added = [k for k in _CLASSPATH_CONFS if conf.get(k)]
    added += [a for a in submit if a.split("=", 1)[0] in _CLASSPATH_ARGS]
    added += [v for v in _CLASSPATH_ENV if os.environ.get(v)]
    if added:
        return f"driver classpath entries added by {', '.join(added)}"
    opts = conf.get("spark.driver.extraJavaOptions", "")
    if any(f in opts for f in ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return "spark.driver.extraJavaOptions sets its own class-data sharing"
    # CDS refuses a non-empty directory on the classpath, and the launcher
    # always puts the conf dir on it
    names = os.listdir(conf_dir) if os.path.isdir(conf_dir) else []
    kept = sorted(n for n in names if not n.endswith(".template"))
    if kept:
        return f"conf dir {conf_dir} holds {kept[0]}"
    return None


def _train(pid: int) -> None:
    """Run cds_training and wait for it (at the exit of process ``pid``)."""
    if os.getpid() != pid:
        return  # a forked child inherited the hook
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET", "SPARK_REMOTE")}
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    try:
        r = subprocess.run([sys.executable, "-m", _TRAINING], env=env,
                           stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                           stderr=subprocess.PIPE, text=True, timeout=_TRAIN_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        _LOG.warning("class-data sharing: training failed: %s", e)
        return
    ours = [ln for ln in r.stderr.splitlines() if ln.startswith("class-data sharing")]
    for line in ours:
        _LOG.warning("%s", line)
    if r.returncode and not ours:
        tail = (r.stderr.strip().splitlines() or [""])[-1]
        _LOG.warning("class-data sharing: training exited with %d: %s", r.returncode, tail)


def _cds_options(conf: dict[str, str]) -> str | None:
    """The java options that map this key's archive, or None: after one
    log line where CDS cannot be used, or after arranging training at
    exit where no archive exists yet."""
    global _training_registered
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cds = _cds_dir()
    empty = os.path.join(cds, "conf")  # a fixed path: the archive records it
    java = _java()
    try:
        reason = _cds_skip_reason(conf, conf_dir) or (
            None if java else "no java binary found")
        if reason is None:
            os.makedirs(empty, exist_ok=True)
            if not os.access(cds, os.W_OK):
                reason = f"cache dir {cds} is not writable"
            elif os.listdir(empty):
                reason = f"{empty} is not empty"
        if reason is None:
            published = os.path.join(cds, f"{_cds_key(java, spark_home)}.jsa")
            if os.path.exists(published):
                return f"-XX:SharedArchiveFile={published} -Xshare:auto {_CDS_QUIET}"
            if not _training_registered:
                _training_registered = True
                atexit.register(_train, os.getpid())
            _LOG.info("class-data sharing: no archive yet; training at exit")
            return None
    except OSError as e:
        reason = f"cache dir {cds}: {e}"
    _LOG.warning("class-data sharing off for this driver JVM: %s", reason)
    return None


def _launch(builder, conf: dict[str, str]) -> SparkSession:
    """getOrCreate for a call that starts the driver JVM: with a CDS archive
    where one can be used."""
    options = _cds_options(conf)
    if options is None:
        return builder.getOrCreate()
    opts = conf.get("spark.driver.extraJavaOptions", "")
    builder = builder.config("spark.driver.extraJavaOptions", f"{opts} {options}".strip())
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = os.path.join(_cds_dir(), "conf")
    try:
        return builder.getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def get_spark(config: SessionConfig | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine configuration.

    A call that starts the driver JVM starts it from a class-data-sharing
    archive (see above); one that finds a JVM running changes no option and
    no environment variable."""
    config = config or SessionConfig()
    builder = SparkSession.builder.appName(config.app_name)
    if config.master:
        builder = builder.master(config.master)
    elif not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    conf = config.to_conf()
    for k, v in conf.items():
        builder = builder.config(k, v)
    if (SparkContext._gateway is not None or SparkContext._active_spark_context
            or os.environ.get("PYSPARK_GATEWAY_PORT") or os.environ.get("SPARK_REMOTE")):
        return builder.getOrCreate()
    return _launch(builder, conf)
