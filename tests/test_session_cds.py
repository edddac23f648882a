"""get_spark starts the driver JVM from a class-data-sharing archive.

Every test has its own XDG_CACHE_HOME, so the archive it trains,
publishes or discards is its own. The engine starts that the archive
decides run in a child interpreter, apart from the tier-1 session's JVM.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import subprocess
import sys

import pytest

from sparkksqldbbenchmark_spark import cds_training, session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Start the engine, run one job, print the JVM's classpath, then stop the
# JVM and wait for it. A start that finds no archive trains one when the
# child exits.
CHILD = r"""
import json, sys
from pyspark import SparkContext
from sparkksqldbbenchmark_spark.session import SessionConfig, get_spark

spark = get_spark(SessionConfig(master="local[1]", shuffle_partitions=1,
                                extra=json.loads(sys.argv[1])))
assert spark.range(3).count() == 3
print(spark._jvm.java.lang.System.getProperty("java.class.path"))
gateway = SparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
"""


def start(cache: str, java_opts: str) -> subprocess.CompletedProcess:
    opts = {"spark.driver.extraJavaOptions": java_opts}
    child_env = {**os.environ, "XDG_CACHE_HOME": cache, "PYTHONPATH": REPO}
    r = subprocess.run(
        [sys.executable, "-c", CHILD, json.dumps(opts)],
        env=child_env, cwd=cache, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    return r


def cds_dir(cache: str) -> str:
    return os.path.join(cache, "sparkksqldbbenchmark_spark", "cds")


def cds_lines(r: subprocess.CompletedProcess) -> list[str]:
    return [ln for ln in r.stderr.splitlines() if "class-data sharing" in ln]


def published(cache: str) -> list[str]:
    return sorted(glob.glob(os.path.join(cds_dir(cache), "[0-9a-f]*.jsa")))


@pytest.fixture(scope="module")
def first_start(tmp_path_factory):
    """One start into an empty cache: it trains and publishes an archive
    when it exits."""
    cache = str(tmp_path_factory.mktemp("cds_cache"))
    log = os.path.join(cache, "class-load.log")
    r = start(cache, f"-Xlog:class+load:file={log}")
    [archive] = published(cache)
    with open(log) as f:
        loads = f.read()
    yield cache, r, os.path.basename(archive)[:-len(".jsa")], loads
    for f in glob.glob(os.path.join(cds_dir(cache), "*.jsa")):
        os.remove(f)  # about 180 MB each


@pytest.fixture(scope="module")
def next_start(first_start):
    cache, _, key, _ = first_start
    log = os.path.join(cache, "class-load-2.log")
    # the caller's own option stays: the archive flags are appended to it
    r = start(cache, f"-Xlog:class+load:file={log}")
    with open(log) as f:
        loads = f.read()
    return r, loads, r.stdout.strip().splitlines()[-1]


def test_first_start_trains_an_archive_without_cds_warnings(first_start):
    cache, r, key, loads = first_start
    assert "source: shared objects file (top)" not in loads  # no archive yet
    assert "org.apache.spark.SparkContext source: file:" in loads
    assert sorted(os.listdir(cds_dir(cache))) == sorted(["conf", f"{key}.jsa", "train.lock"])
    assert "[warning][cds]" not in r.stdout + r.stderr
    assert not cds_lines(r)


def test_next_start_maps_the_archive(first_start, next_start):
    cache, _, key, _ = first_start
    r, loads, classpath = next_start
    assert not cds_lines(r)
    assert classpath.startswith(os.path.join(cds_dir(cache), "conf"))
    assert sorted(os.listdir(cds_dir(cache))) == sorted(["conf", f"{key}.jsa", "train.lock"])
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in loads


def test_only_a_cleanly_mapping_archive_is_published(first_start, next_start,
                                                     tmp_path, caplog):
    cache, _, key, _ = first_start
    classpath = next_start[2]
    good = os.path.join(cds_dir(cache), f"{key}.jsa")
    d = str(tmp_path)
    os.link(good, os.path.join(d, f"{key}.jsa"))
    before = os.stat(good)
    pending = os.path.join(d, f"pending-{key}.jsa")
    java = session._java()
    with open(good, "rb") as f:
        head = f.read(4 << 20)
    caplog.set_level(logging.WARNING, logger=cds_training.__name__)
    for data in (head, os.urandom(1 << 20)):  # truncated, random bytes
        with open(pending, "wb") as f:
            f.write(data)
        caplog.clear()
        assert not cds_training.publish(d, key, pending, classpath, java)
        assert [r.getMessage() for r in caplog.records] == [
            f"class-data sharing: deleted pending-{key}.jsa: a JVM does not map it cleanly"]
        assert sorted(os.listdir(d)) == [f"{key}.jsa"]
        after = os.stat(os.path.join(d, f"{key}.jsa"))
        assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    # a good archive replaces nothing but its own key's, and removes others'
    os.remove(os.path.join(d, f"{key}.jsa"))
    with open(os.path.join(d, "0" * 20 + ".jsa"), "wb") as f:
        f.write(head)
    os.link(good, pending)
    caplog.clear()
    assert cds_training.publish(d, key, pending, classpath, java)
    assert [r.getMessage() for r in caplog.records] == [
        f"class-data sharing: deleted {'0' * 20}.jsa: archive of another key"]
    assert sorted(os.listdir(d)) == [f"{key}.jsa"]
    assert os.stat(os.path.join(d, f"{key}.jsa")).st_ino == before.st_ino


def test_training_deletes_archives_an_interrupted_training_left(first_start):
    cache, _, key, _ = first_start
    d = cds_dir(cache)
    for name in (f"pending-{key}.jsa", f"pending-{'0' * 20}.jsa"):
        with open(os.path.join(d, name), "wb") as f:
            f.write(os.urandom(1 << 16))
    r = subprocess.run([sys.executable, "-m", cds_training.__name__],
                       env={**os.environ, "XDG_CACHE_HOME": cache, "PYTHONPATH": REPO},
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr
    assert r.stdout == ""
    assert sorted(cds_lines(r)) == [
        f"class-data sharing: deleted pending-{'0' * 20}.jsa: "
        "left by a training run that did not finish",
        f"class-data sharing: deleted pending-{key}.jsa: "
        "left by a training run that did not finish"]
    assert sorted(os.listdir(d)) == sorted(["conf", f"{key}.jsa", "train.lock"])


def test_conf_dir_with_a_non_template_file_means_no_cds(tmp_path, monkeypatch, caplog):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    (conf / "notes.txt").write_text("kept\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    caplog.set_level(logging.WARNING, logger=session.__name__)
    assert session._cds_options({}) is None
    assert [r.getMessage() for r in caplog.records] == [
        f"class-data sharing off for this driver JVM: conf dir {conf} holds notes.txt"]
    assert not os.path.exists(cds_dir(str(tmp_path)))


def test_running_spark_context_is_left_untouched(spark, tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    env = dict(os.environ)
    opts = spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "")
    assert session.get_spark(session.SessionConfig(shuffle_partitions=4)) is spark
    assert dict(os.environ) == env
    assert spark.sparkContext.getConf().get("spark.driver.extraJavaOptions", "") == opts
    assert not os.path.exists(cds_dir(str(tmp_path)))
