"""SparkSession construction and runtime configuration.

Two entry paths:
- ``get_spark()`` builds a session for local runs (tests, bench.py).
- ``configure(spark)`` applies the runtime-settable confs we rely on to a
  session we did NOT build (the driver hands us one in __spark_entry__).

Every file the engine writes (the executor package zip, the
rewrite-every-time writers' outputs, the build-once stores) lives under
one per-process scratch root, ``_scratch_root()``, removed at exit.

Scale notes: the static configs below are tuned for local[32]/128 GiB, but
every knob is the one you'd turn on a 1000-executor cluster too — AQE for
runtime re-planning (skew joins, partition coalescing), a shuffle-partition
count sized to cores, Arrow for any Python-side exchange.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession


def cpu_count() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


@functools.cache
def _scratch_root() -> str:
    """This process's root for every file the engine writes: the package
    zip, the rewrite-every-time writers' outputs and the build-once
    stores. ``mkdtemp`` makes it unique to the process, and it is removed
    at exit, so no two processes share a path and nothing outlives its
    process."""
    root = tempfile.mkdtemp(prefix="hllps_scratch_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _scratch(kind: str, sf_dir: str) -> str:
    """A rewrite-every-time writer's path under the scratch root."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(_scratch_root(), f"{kind}_{tag}")


def _store_dir(sf_dir: str, table: str, kind: str) -> str:
    """A build-once store's path under the scratch root, keyed by the
    input table's identity (path, size, mtime), so reruns in one process
    reuse one build and a changed table keys a fresh path. ``kind``
    separates stores built from the same table."""
    h = hashlib.sha256()
    h.update(os.path.realpath(sf_dir).encode() + b"\0")
    # the table may be a single file or a directory of part files;
    # os.stat covers both (a directory's mtime advances on any part
    # add/remove, which is the invalidation we want)
    st = os.stat(os.path.join(sf_dir, f"{table}.parquet"))
    h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return os.path.join(_scratch_root(), f"{kind}_{h.hexdigest()[:16]}")


def _build_store_atomically(base: str, build_into) -> None:
    """Build a store once: ``build_into(stage)`` writes the whole store
    into a private stage dir, which one ``os.rename`` publishes as
    ``base``. A build that raises removes its stage, so a half-written
    store is never served and the next call rebuilds. No-op when
    ``base`` exists."""
    if os.path.exists(base):
        return
    stage = tempfile.mkdtemp(
        prefix=os.path.basename(base) + ".stage-", dir=os.path.dirname(base)
    )
    try:
        build_into(stage)
    except BaseException:
        shutil.rmtree(stage, ignore_errors=True)
        raise
    os.rename(stage, base)


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


@functools.cache
def _package_zip() -> str:
    """Zip this package's sources once per process, into the scratch
    root; returns the zip's path. The root is unique to the process, so
    a zip built by an earlier process (or older code) is never shipped."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo_root = os.path.dirname(pkg_dir)
    zpath = os.path.join(_scratch_root(), "hllps_pkg.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, dirs, files in os.walk(pkg_dir):
            dirs.sort()
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, repo_root))
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


def get_spark(app_name: str = "hyperloglog_pyspark_spark") -> SparkSession:
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpu_count()}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return configure(spark)
