"""SparkSession factory with scale-oriented defaults.

Defaults mirror what we would set on a 1000-executor cluster (AQE on, skew-join
handling, Arrow for pandas-UDF stages); parallelism is parameterized so the
bench harness can run the identical job at two parallelism levels (local[1] vs
local[4] — the N-vs-4N pair inside this host's DRAM-bandwidth envelope, see
BENCH/BASELINE.md) for the scaling-efficiency evidence.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

_FS_SRC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "jvm", "InProcessLocalFileSystem.java")


def local_fs_classpath() -> str | None:
    """Class directory of the checkout's ``jvm/InProcessLocalFileSystem.java``,
    compiled once per source and Hadoop jar into ``jvm/build/``; None
    (Hadoop's own local file system stays) without the source, ``javac``, the
    Hadoop jar or a clean build.

    Without Hadoop's native library every file and directory a parquet write
    creates starts a ``chmod`` process from the driver JVM; that class sets
    the same modes through java.nio."""
    from pyspark.find_spark_home import _find_spark_home

    jars = glob.glob(os.path.join(_find_spark_home(), "jars",
                                  "hadoop-client-api-*.jar"))
    javac = shutil.which("javac")
    if not jars or not javac or not os.path.exists(_FS_SRC):
        return None
    with open(_FS_SRC, "rb") as f:
        key = hashlib.sha1(f.read() + jars[0].encode()).hexdigest()[:12]
    out = os.path.join(os.path.dirname(_FS_SRC), "build", key)
    if not os.path.isdir(out):
        tmp = f"{out}.{os.getpid()}"
        cmd = [javac, "--release", "17", "-cp", jars[0], "-d", tmp, _FS_SRC]
        try:
            if subprocess.run(cmd, capture_output=True).returncode == 0:
                os.rename(tmp, out)  # atomic: a concurrent build may have won
        except OSError:
            pass
        shutil.rmtree(tmp, ignore_errors=True)
    return out if os.path.isdir(out) else None


def get_spark(
    app_name: str = "bytefreq-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    # the class path only reaches a driver JVM that this call launches
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cp = local_fs_classpath()
        if cp is not None:
            conf["spark.driver.extraClassPath"] = os.pathsep.join(
                filter(None, [cp, conf.get("spark.driver.extraClassPath")]))
            conf.setdefault("spark.hadoop.fs.file.impl",
                            "bytefreq.InProcessLocalFileSystem")
    for k, v in conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
