"""Table catalog over the driver-generated parquet star schema.

The reference has no file connectors at all (its tests load JSON by hand,
tests/HLL/test_examples.py:35-43); this module is the engine's scan layer:
``spark.read.parquet`` so Catalyst gets predicate pushdown, column pruning
and partition pruning for free.

Scale notes: at 100 TB these reads become partitioned/ bucketed external
tables; the normalization applied here (nanos→micros on events.ts) is a
projection that stays inside whole-stage codegen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from hyperloglog_pyspark_spark.registry import memo_get, memo_key, memo_put
from hyperloglog_pyspark_spark.session import configure, cpu_count

TABLES = [
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
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp-typed columns per table — the set a regeneration might store
# as TIMESTAMP(NANOS) (read back as bigint under nanosAsLong).
_TS_COLUMNS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def _scan_splits(path: str) -> int:
    """Max parallelism the parquet reader can extract from ``path``.

    Spark splits parquet by byte ranges but a task only produces rows for
    row groups whose midpoint lands in its range — so effective scan
    parallelism is bounded by total row-group count, read cheaply from the
    footers driver-side (the reader planning does the same metadata pass).
    """
    try:
        import pyarrow.parquet as pq

        files = (
            [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
            if os.path.isdir(path)
            else [path]
        )
        return sum(pq.read_metadata(f).num_row_groups for f in files)
    except Exception:
        return cpu_count()  # unknown layout: assume splittable, don't shuffle


def spread(df: DataFrame, splits: int | None = None) -> DataFrame:
    """Fan out a scan that cannot feed every core.

    The testdata files are single-row-group parquet, so every scan is ONE
    task no matter what maxPartitionBytes says; expression-heavy map work
    (shingling, regex extraction, per-row hashing) then runs serially.
    Exchanging the few raw megabytes buys full-width parallelism for the
    expensive projection above it. Call sites pass the footer-derived
    split count so this is a NO-OP whenever the files already carry
    enough row groups — i.e. at real warehouse scale, where writers emit
    128 MB row groups and the scan parallelizes natively.

    Round-16: the partitioning key is a deterministic whole-row hash
    instead of round-robin. A keyless ``repartition(n)`` first pays a
    LOCAL SORT of its input (``spark.sql.execution.sortBeforeRepartition``,
    on since SPARK-23207 so retried tasks reproduce the same
    row-to-partition assignment) — measured half the exchange's wall on
    the widest spread input (lineitem: RR 1.04 s vs hash 0.51 s noop
    min). Hashing the row contents gets the same retry determinism for
    free (guide §2.5's deterministic-synthetic-key rule: the assignment
    is a pure function of the row, never of attempt-local state), with
    no sort. Base tables carry unique keys, so the hash spreads evenly;
    a pathological all-duplicate input would collapse to one partition —
    acceptable for a helper that only ever wraps catalog base tables.
    ``xxhash64`` rejects MapType columns; no catalog table has one
    (checked on documents, events, embeddings and lineitem).
    """
    n = cpu_count()
    if splits is not None and splits >= n:
        return df
    return df.repartition(n, F.xxhash64(*df.columns))


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread_scan: bool = False
) -> DataFrame:
    """Load one table, normalizing physical quirks of the testdata files.

    ``spread_scan=True`` is the opt-in for operators whose pre-shuffle map
    work is expensive (word shingling, multi-hash signatures): it fans the
    scan out to all cores when the file's row-group count can't (see
    ``spread``). The normalized scan is memoized per session (family
    "load" of the registry's memo store).
    """
    key = memo_key("load", spark, os.path.abspath(sf_dir), name, spread_scan)
    hit = memo_get(key)
    if hit is not None:
        return hit
    configure(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # TIMESTAMP(NANOS) parquet surfaces as raw int64 under nanosAsLong;
    # floor-divide to micros — the truncation DuckDB applies at micro
    # granularity, keeping oracle comparisons exact. Checked for every
    # known timestamp column, not just events.ts: which columns a testdata
    # regeneration stores as nanos has changed between rounds.
    for col in _TS_COLUMNS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) surfaces as TIMESTAMP_NTZ,
    # which unix_millis/unix_micros and interval casts reject. The session
    # timezone is pinned to UTC (session.py), so casting NTZ→TIMESTAMP is a
    # pure type relabel of the same wall-clock — identical to how DuckDB
    # reads the file as a naive TIMESTAMP. Normalize every table generically
    # so a future testdata regeneration can't reintroduce the mismatch.
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    if spread_scan:
        df = spread(df, _scan_splits(os.path.join(sf_dir, f"{name}.parquet")))
    memo_put(key, df)
    return df


def _sql_literal(v: object, sql_type: str) -> str:
    """Render one python value as a CAST SQL literal of ``sql_type``."""
    if v is None:
        return f"CAST(NULL AS {sql_type})"
    if isinstance(v, bool):
        lit = "true" if v else "false"
    elif isinstance(v, (int, float)):
        lit = repr(v)
    elif isinstance(v, str):
        lit = "'" + v.replace("'", "''") + "'"
    else:
        raise TypeError(f"literal_frame: unsupported value {v!r}")
    return f"CAST({lit} AS {sql_type})"


def literal_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A small literal table as a canonical-STABLE plan (VALUES + casts).

    ``spark.createDataFrame`` on local python data plans a ``LogicalRDD``
    whose canonicalization is identity-based — two calls with identical
    data never compare equal, so ANY persisted frame whose plan contains
    one can never be found again by the CacheManager's plan-canonical
    lookup: every bench rep (and every composing query) silently rebuilt
    frames like the query-term-restricted tf table from scratch, and each
    rebuild's ``persist()`` registered a fresh dead cache entry (measured:
    text_bm25_topk 2.5 s per WARM rep, re-scanning documents.parquet 8×
    per executed plan — guide §5 / §2.4). A ``VALUES`` projection is a
    ``LocalRelation``, which canonicalizes by content, so identical dims
    from different calls are plan-equal and every downstream cache hits.

    ``schema`` is DDL like ``"query_id long, term string"`` — each value
    is wrapped in an explicit CAST so types match createDataFrame's
    exactly. Literal dims only (str/int/float/bool/None).
    """
    cols = [c.strip().split(None, 1) for c in schema.split(",")]
    rendered = ", ".join(
        "(" + ", ".join(_sql_literal(v, t) for v, (_, t) in zip(row, cols)) + ")"
        for row in rows
    )
    names = ", ".join(n for n, _ in cols)
    return spark.sql(f"SELECT * FROM VALUES {rendered} AS t({names})")


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """Register temp views so queries can be authored in spark.sql."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)
