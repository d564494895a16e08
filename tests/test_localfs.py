"""The engine's ``file:`` filesystem (``lakehouse/jvm``): Spark writes and
reads on a local master start no ``chmod`` process, while file modes and
``.crc`` checksum verification stay as with Hadoop's stock local
filesystem.

The Spark checks run in subprocesses: each needs a JVM launched by
``build_session`` itself (the session fixture's JVM is shared), and the
``chmod`` check needs a logging ``chmod`` first on the JVM's ``PATH``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "lakehouse", "jvm")

OPS_SCRIPT = r"""
import json, os, sys
os.umask(0o022)
from lakehouse import Table
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.session import build_session
from lakehouse.streaming import append_batch
from lakehouse.synth import synth_clips_df

work, caller_cp = sys.argv[1], sys.argv[2]
spark = build_session(
    "localfs-ops", master="local[1]", shuffle_partitions=1,
    extra_conf={"spark.driver.memory": "1g",
                "spark.driver.extraClassPath": caller_cp},
)
hconf = spark.sparkContext._jsc.hadoopConfiguration()
fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
    spark._jvm.java.net.URI("file:///"), hconf)
out = {
    "fs_class": fs.getClass().getName(),
    "conf_classpath": spark.sparkContext.getConf().get(
        "spark.driver.extraClassPath", ""),
    "jvm_classpath": spark._jvm.java.lang.System.getProperty(
        "java.class.path"),
}
spec = [{"name": "event_date", "transform": "identity", "source": "event_date"}]
t = Table.create(spark, os.path.join(work, "t"), CLIPS_SCHEMA,
                 partition_spec=spec)
t.append(synth_clips_df(spark, 10, seed=1, n_days=2))
# a batch id the stream query below does not reach
append_batch(t)(synth_clips_df(spark, 4, start=10, seed=1, n_days=2), 1000)
out["compacted_files"] = t.compact().files_rewritten
src = os.path.join(work, "src")
synth_clips_df(spark, 6, start=20, seed=1, n_days=1).write.parquet(src)
q = (spark.readStream.schema(t.schema).parquet(src).writeStream
     .foreachBatch(append_batch(t))
     .option("checkpointLocation", os.path.join(work, "ckpt"))
     .trigger(availableNow=True).start())
q.awaitTermination(120)
out["rows"] = t.scan().count()
out["modes"] = sorted({
    oct(os.stat(os.path.join(d, n)).st_mode & 0o7777) + (" dir" if n in subs else "")
    for d, subs, names in os.walk(os.path.join(t.root, "data"))
    for n in list(subs) + names
})
victim = os.path.join(t.root, t.live_files()[0].file_path)
with open(victim, "r+b") as f:
    f.seek(os.path.getsize(victim) // 2)
    b = f.read(1)
    f.seek(-1, 1)
    f.write(bytes([b[0] ^ 0xFF]))
try:
    t.scan().collect()
    out["corrupt_read"] = "ok"
except Exception as e:  # noqa: BLE001
    lines = str(e).splitlines()
    out["corrupt_read"] = next(
        (ln for ln in lines if "ChecksumException" in ln), lines[0])
spark.stop()
print(json.dumps(out))
"""

FALLBACK_SCRIPT = r"""
import json, os, sys
from pyspark.sql import SparkSession
from lakehouse import Table
from lakehouse.schema import CLIPS_SCHEMA
from lakehouse.session import build_session
from lakehouse.synth import synth_clips_df

SparkSession.builder.master("local[1]").config(
    "spark.driver.memory", "1g").getOrCreate().stop()
spark = build_session("localfs-fallback", master="local[1]",
                      shuffle_partitions=1,
                      extra_conf={"spark.driver.memory": "1g"})
fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(
    spark._jvm.java.net.URI("file:///"),
    spark.sparkContext._jsc.hadoopConfiguration())
t = Table.create(spark, os.path.join(sys.argv[1], "t"), CLIPS_SCHEMA)
t.append(synth_clips_df(spark, 5, seed=2, n_days=1))
print(json.dumps({"fs_class": fs.getClass().getName(),
                  "impl": spark.sparkContext.getConf().get(
                      "spark.hadoop.fs.file.impl", None),
                  "rows": t.scan().count()}))
spark.stop()
"""


def _run(script: str, tmp_path, *args: str, env_extra=None) -> dict:
    env = dict(os.environ, PYTHONPATH=REPO, **(env_extra or {}))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    env.pop("PYSPARK_GATEWAY_SECRET", None)
    proc = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path), *args],
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module")
def ops_run(tmp_path_factory):
    """One subprocess session (local[1], a logging ``chmod`` first on
    ``PATH``, a caller ``extraClassPath``) running a partitioned append,
    an ``append_batch``, a compaction and a checkpointed ``foreachBatch``
    query, then reading a table with one corrupted data file."""
    tmp = tmp_path_factory.mktemp("localfs")
    bin_dir = tmp / "bin"
    bin_dir.mkdir()
    log = tmp / "chmod.log"
    log.touch()
    chmod = bin_dir / "chmod"
    chmod.write_text(
        f'#!/bin/sh\necho "$*" >> "{log}"\nexec {shutil.which("chmod")} "$@"\n'
    )
    chmod.chmod(0o755)
    caller_cp = str(tmp / "caller-classes")
    out = _run(
        OPS_SCRIPT, tmp, caller_cp,
        env_extra={"PATH": f"{bin_dir}{os.pathsep}{os.environ['PATH']}"},
    )
    out["chmod_log"] = log.read_text().splitlines()
    out["caller_cp"] = caller_cp
    return out


def test_spark_writes_start_no_chmod_process(ops_run):
    assert ops_run["chmod_log"] == []
    assert ops_run["fs_class"] == "lakehouse.jvm.NoForkLocalFileSystem"
    assert ops_run["compacted_files"] > 0
    assert ops_run["rows"] == 20


def test_written_files_keep_stock_modes(ops_run):
    """Under umask 022: data and ``.crc`` files 0644, directories 0755."""
    assert ops_run["modes"] == ["0o644", "0o755 dir"]


def test_corrupted_data_file_fails_checksum_on_read(ops_run):
    """The ``.crc`` sidecars are still written and verified on read."""
    assert "ChecksumException: Checksum error" in ops_run["corrupt_read"]


def test_caller_extra_classpath_survives_merge(ops_run):
    from lakehouse.session import LOCALFS_JAR

    for cp in (ops_run["conf_classpath"], ops_run["jvm_classpath"]):
        entries = cp.split(os.pathsep)
        assert ops_run["caller_cp"] in entries
        assert LOCALFS_JAR in entries


def test_jvm_started_without_jar_keeps_stock_filesystem(tmp_path):
    """A JVM launched before ``build_session`` cannot load the class:
    the session keeps whatever ``file:`` filesystem Hadoop resolves by
    itself, and writes work."""
    out = _run(FALLBACK_SCRIPT, tmp_path)
    assert out["impl"] is None
    assert not out["fs_class"].startswith("lakehouse.")
    assert out["rows"] == 5


def test_committed_jar_matches_sources():
    """The jar records the sha256 of the sources it was built from
    (``tools/build_localfs_jar.sh``); rebuild it after editing them."""
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    assert sources
    digest = hashlib.sha256()
    for path in sources:
        with open(path, "rb") as f:
            digest.update(f.read())
    with zipfile.ZipFile(os.path.join(JVM_DIR, "lakehouse-localfs.jar")) as z:
        manifest = z.read("META-INF/MANIFEST.MF").decode()
        classes = {n for n in z.namelist() if n.endswith(".class")}
    # manifest lines wrap at 72 bytes with a one-space continuation
    attrs = dict(
        line.split(": ", 1)
        for line in manifest.replace("\r\n", "\n").replace("\n ", "").splitlines()
        if ": " in line
    )
    assert attrs.get("Source-SHA256") == digest.hexdigest()
    for path in sources:
        name = os.path.basename(path)[: -len(".java")]
        assert f"lakehouse/jvm/{name}.class" in classes
