"""SparkSession builder with the engine's execution profile.

Mirrors the shape of the reference's conf block
(/root/reference/etl/glue_stream.py:295-301) but replaces its
single-stream sizing (``shuffle.partitions=1``) with AQE: runtime
partition coalescing + skew-join splitting, which is what survives a
1000-executor deployment. Package ships via ``spark-submit --py-files``
(see jobs.py).

Two things are local-mode only, for ``master="local"`` / ``"local[...]"``:

- the 24g default driver heap, because the driver is every executor;
- the engine's own ``file:`` filesystem (``lakehouse/jvm``). Without the
  Hadoop native library, Hadoop's local filesystem forks a ``chmod``
  process for every file, ``.crc`` sidecar and directory a write
  creates. ``lakehouse.jvm.NoForkLocalFileSystem`` (and ``NoForkLocalFs``
  for the FileContext path of streaming checkpoints and state stores)
  set the same modes through ``java.nio`` and keep the checksums. This
  module can put the jar on the driver's classpath only, so the
  filesystem is used only where the driver is the one executor and
  tables are ``file:`` paths, and only when its classes load: in a JVM
  this call launches, or in a running one that was started with the
  jar. Anywhere else (``spark-submit --py-files`` with the package in a
  zip, a cluster master, a JVM started without the jar) Spark keeps the
  stock filesystem.
"""

from __future__ import annotations

import os
import re

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.sql import SparkSession

LOCALFS_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jvm", "lakehouse-localfs.jar"
)
_LOCALFS_IMPLS = {
    "spark.hadoop.fs.file.impl": "lakehouse.jvm.NoForkLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "lakehouse.jvm.NoForkLocalFs",
}
_CLASSPATH = "spark.driver.extraClassPath"
# "local" and "local[N]" / "local[*]" / "local[N,F]"; not "local-cluster",
# whose executors are separate JVMs without the jar
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")


def _localfs_conf(master: str | None, extra_conf: dict) -> dict[str, str]:
    """The confs that put the no-fork local filesystem under this session,
    or ``{}`` where it cannot be used (see the module docstring). A
    caller's ``spark.driver.extraClassPath`` is kept, with the jar
    appended."""
    if not master or not _LOCAL_MASTER.fullmatch(master):
        return {}
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        # this call launches the JVM: the jar goes on its classpath
        if not os.path.isfile(LOCALFS_JAR):  # e.g. imported from a zip
            return {}
        cp = [p for p in (extra_conf.get(_CLASSPATH), LOCALFS_JAR) if p]
        return {_CLASSPATH: os.pathsep.join(cp), **_LOCALFS_IMPLS}
    # a JVM is running (an earlier session, or spark-submit's): use the
    # filesystem only if that JVM was started with the jar
    SparkContext._ensure_initialized()
    try:
        SparkContext._jvm.java.lang.Class.forName(
            _LOCALFS_IMPLS["spark.hadoop.fs.file.impl"]
        )
    except Py4JError:
        return {}
    return dict(_LOCALFS_IMPLS)


def build_session(
    app_name: str = "lakehouse",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = os.cpu_count() or 8
    builder = (
        SparkSession.builder.appName(app_name)
        # AQE replaces the reference's hardcoded shuffle sizing (:297)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64m",
        )
        # Arrow for every Python-boundary exchange (pandas UDFs / mapInPandas)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        # parquet profile lifted from the reference sink (:299-301) with
        # one deliberate change: the reference's snappy suits compressible
        # clickstream text, but PCM audio is high-entropy — snappy costs
        # 3-4x write time for 0% size win (measured: 19.3s vs 4.7s for the
        # same 280 MB). lz4 keeps the cheap-codec behavior for the text
        # columns without taxing the binary payload.
        # lz4_raw, not lz4: same speed class, but the legacy lz4 codec
        # uses Hadoop frame wrapping that Arrow/pyarrow (and most
        # non-JVM engines) cannot decode — the datasource.py read path
        # and any external Arrow consumer need LZ4_RAW pages
        .config("spark.sql.parquet.compression.codec", "lz4_raw")
        .config("spark.sql.parquet.filterPushdown", "true")
        # let the registered Python data source (datasource.py) receive
        # WHERE clauses for manifest-level file pruning
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # audio payloads are ~10-100 KB binary cells; the default
        # 4096-row vectorized-reader batch means ~0.3 GB of column
        # vectors PER reader thread — at 32 threads that alone exceeds
        # any sane heap. 512-row batches keep a reader under ~50 MB
        # while staying fully vectorized. Same logic for Arrow batches
        # crossing into pandas UDFs.
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        # scheduler: maintenance jobs submit file groups concurrently
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.config("spark.master", master)
        if master.startswith("local") and not (extra_conf or {}).get(
            "spark.driver.memory"
        ):
            # local mode: driver == all executors; the 1g default heap
            # cannot hold N concurrent binary-column readers
            builder = builder.config("spark.driver.memory", "24g")
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or cores)
    )
    conf = {**(extra_conf or {})}
    for k, v in _localfs_conf(master, conf).items():
        # a caller's own filesystem choice wins; the classpath is merged
        if k == _CLASSPATH or k not in conf:
            conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
