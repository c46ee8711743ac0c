"""SparkSession construction and runtime configuration.

Two entry paths:
- ``get_spark()`` builds a session for local runs (tests, bench.py).
- ``configure(spark)`` applies the runtime-settable confs we rely on to a
  session we did NOT build (the driver hands us one in __spark_entry__).

Scale notes: the static configs below are tuned for local[32]/128 GiB, but
every knob is the one you'd turn on a 1000-executor cluster too — AQE for
runtime re-planning (skew joins, partition coalescing), a shuffle-partition
count sized to cores, Arrow for any Python-side exchange.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable inside Spark's Python workers.

    The driver process may run from any cwd (the per-round driver does);
    Pandas-UDF closures (functions/hll64_spark.py, operators/dedup.py, …)
    reference this package by name, so ship a zip of it via addPyFile —
    the same mechanism you'd use to deploy the engine to a real cluster.
    """
    sc = spark.sparkContext
    if getattr(sc, "_hllps_package_shipped", False):
        return
    sc.addPyFile(_package_zip())
    sc._hllps_package_shipped = True


def _package_zip(pkg_dir: str | None = None) -> str:
    """Build (or reuse) the executor-shipped package zip; returns its
    path. Sources are collected deterministically and the zip is keyed
    by CONTENT HASH — the previous pid-keyed path
    (hllps_pkg_<pid>.zip + exists-check) collided on pid REUSE across
    process generations on a long-lived machine, silently shipping a
    STALE zip: executors then raised AttributeError for any
    module-level symbol added since that zip was built (caught live in
    the r10 final sweep — three perceptual queries failed on a
    resolved-from-zip _perc_audio_synth). A content hash can never
    alias different code. Factored spark-free so the keying contract is
    unit-testable (tests/test_pipeline_ops.py)."""
    if pkg_dir is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    sources = []
    hasher = hashlib.sha256()
    for dirpath, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, repo_root)
                with open(full, "rb") as f:
                    body = f.read()
                # NUL-delimit the path and length-prefix the body so
                # field boundaries can't alias across different trees
                # (path bytes bleeding into body bytes hashing equal).
                hasher.update(rel.encode() + b"\0")
                hasher.update(str(len(body)).encode() + b"\0")
                hasher.update(body)
                sources.append((full, rel))
    zpath = os.path.join(
        tempfile.gettempdir(), f"hllps_pkg_{hasher.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        # unique temp + atomic rename: concurrent sessions building the
        # same content race harmlessly to an identical file
        fd, tmp = tempfile.mkstemp(dir=tempfile.gettempdir(), suffix=".zip")
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for full, rel in sources:
                z.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs (safe on someone else's session)."""
    _ship_package(spark)
    conf = spark.conf
    # The driver-generated events.parquet stores ts as TIMESTAMP(NANOS),
    # which Spark's parquet reader rejects [PARQUET_TYPE_ILLEGAL]; read the
    # raw int64 nanos and convert in the catalog layer (sources/catalog.py).
    conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Deterministic time semantics, aligned with DuckDB's naive timestamps.
    conf.set("spark.sql.session.timeZone", "UTC")
    # Runtime-settable: size the shuffle to the machine (the driver's bare
    # session defaults to 200 — 6x task overhead on local[32]); AQE still
    # coalesces below this. On a real cluster this scales with executors:
    # ~2-3x total cores, or rely on AQE's initialPartitionNum.
    conf.set("spark.sql.shuffle.partitions", str(max(8, cpu_count())))
    # Local testdata files are single small parquet files; the 128 MB
    # default would scan each on ONE core. 4 MB splits fan the scan out
    # (~30% on scan-bound queries here). On a real cluster with 100 TB of
    # properly-sized files, leave this at the 128 MB default — the knob
    # sizes tasks, not throughput, and tiny tasks at scale mean scheduler
    # overhead.
    conf.set("spark.sql.files.maxPartitionBytes", "4m")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def get_spark(app_name: str = "hyperloglog_pyspark_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpu_count()
    if shuffle_partitions is None:
        shuffle_partitions = max(8, cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
