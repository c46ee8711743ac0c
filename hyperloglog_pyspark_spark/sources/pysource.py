"""Custom connector via the Python DataSource API (Spark 4): a
deterministic synthetic-events generator with proper partition planning —
the extension point for sources Spark has no built-in reader for
(internal APIs, proprietary formats, test-data generators).

The reference's only "connector" is hand-loading JSON on the driver
(tests/HLL/test_examples.py:35-43); this is the engine-grade version:
the DRIVER plans partitions, each EXECUTOR generates/reads only its
partition — no data ever funnels through the driver.

Scale: partition count is the parallelism contract; a real connector maps
partitions to file splits / shard ranges / Kafka partitions the same way.
Generation is pure arithmetic on (row index) so any engine can reproduce
it — which is what makes the DuckDB oracle possible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from hyperloglog_pyspark_spark.registry import register
from hyperloglog_pyspark_spark.session import _scratch, configure

N_ROWS = 50_000
N_PARTS = 16


class SyntheticEventsReader(DataSourceReader):
    """Round-robin row generator: partition i yields rows i, i+P, i+2P…"""

    def __init__(self, options):
        self.n = int(options.get("n", N_ROWS))
        self.parts = int(options.get("parts", N_PARTS))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        i = partition.value
        for k in range(i, self.n, self.parts):
            # deterministic integer arithmetic only — exactly reproducible
            yield (k, k % 7, float(k * 13 % 101), f"u{k % 997}")


class SyntheticEventsSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return "id long, bucket int, score double, user string"

    def reader(self, schema):
        return SyntheticEventsReader(self.options)


@register(
    "source_python_datasource",
    category="source",
    oracle=f"""
    SELECT bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(score) AS DOUBLE) AS total_score,
           CAST(COUNT(DISTINCT usr) AS BIGINT) AS n_users
    FROM (
        SELECT CAST(k % 7 AS INT) AS bucket,
               CAST(k * 13 % 101 AS DOUBLE) AS score,
               'u' || CAST(k % 997 AS VARCHAR) AS usr
        FROM range(0, {N_ROWS}) t(k)
    )
    GROUP BY bucket
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate over the custom Python DataSource — executors generate
    their partitions independently; the oracle reproduces the generator
    arithmetic relationally. (Score sums are exact: integer-valued doubles
    far below 2^53.)"""
    from hyperloglog_pyspark_spark.session import configure

    configure(spark)  # ships this package to Python workers (addPyFile) —
    # the DataSource class is pickled by reference and unpickled there
    spark.dataSource.register(SyntheticEventsSource)
    df = (
        spark.read.format("synthetic_events")
        .option("n", N_ROWS)
        .option("parts", N_PARTS)
        .load()
    )
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("score").cast("double").alias("total_score"),
        F.count_distinct("user").alias("n_users"),
    )


# ---------------------------------------------------------------------------
# Sink side: a custom Python DataSink (Spark 4 DataSource writer API) with a
# two-phase commit — executors write task-temp files and return commit
# messages; the DRIVER renames them into place only in commit(), so a failed
# or speculative task leaves no partial output (abort() removes temps).
# Same protocol shape as Hadoop FileOutputCommitter v1 / object-store staged
# commits — the part of a sink that actually matters at 1000 executors.
# ---------------------------------------------------------------------------


class _SinkCommit(WriterCommitMessage):
    def __init__(self, tmp: str, final: str):
        self.tmp = tmp
        self.final = final


class TsvSinkWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def write(self, iterator):
        import os
        import uuid

        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.tsv")
        final = os.path.join(self.path, f"part-{pid:05d}.tsv")
        with open(tmp, "w") as f:
            for row in iterator:
                f.write("\t".join("" if v is None else str(v) for v in row) + "\n")
        return _SinkCommit(tmp, final)

    def commit(self, messages):
        import os

        for m in messages:
            if m is not None:
                os.replace(m.tmp, m.final)

    def abort(self, messages):
        import os

        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)


class TsvSink(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tsv_sink"

    def writer(self, schema, overwrite: bool):
        return TsvSinkWriter(self.options, overwrite)


@register(
    "sink_python_datasink",
    category="source",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY source
    """,
)
def sink_python_datasink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roundtrip through the custom Python DataSink: write (doc_id, source,
    n_chars) as task-committed TSV part files, read them back with the
    schema-on-read CSV reader, and aggregate — proving the executor-side
    write path, the commit protocol, and the re-scan agree with the source
    of truth."""
    import os
    import shutil

    from hyperloglog_pyspark_spark.sources.catalog import load_table

    configure(spark)  # package zip on executor PYTHONPATH (pickle-by-reference)
    spark.dataSource.register(TsvSink)
    path = _scratch("pysink", sf_dir)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    docs.repartition(8, "doc_id").write.format("tsv_sink").mode("append").option(
        "path", path
    ).save()
    back = (
        spark.read.schema("doc_id long, source string, n_chars long")
        .option("sep", "\t")
        .csv(path)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Streaming side: the same synthetic generator as an UNBOUNDED source via
# the Python DataSource streaming API (simpleStreamReader). Offsets are
# row indices; each micro-batch serves a bounded row range, and
# readBetweenOffsets replays any committed range bit-identically after a
# restart — the contract that makes a custom source exactly-once-capable
# under checkpoint recovery (same role as Kafka offset ranges).
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402

TICKS_BATCH = 1_000
TICKS_CAP = 5_000


def _tick_row(k: int) -> tuple:
    # Same deterministic arithmetic family as SyntheticEventsReader.
    return (k, k % 7, float(k * 13 % 101), f"u{k % 997}")


class SyntheticTicksStreamReader(SimpleDataSourceStreamReader):
    """Row-index offsets: batch n serves [start, min(start+batch, cap))."""

    def __init__(self, options):
        self.batch = int(options.get("batch", TICKS_BATCH))
        self.cap = int(options.get("cap", TICKS_CAP))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def read(self, start: dict):
        lo = start["idx"]
        hi = min(lo + self.batch, self.cap)
        # iter(list): the runner needs a true iterator (it next()s empty
        # batches) that is ALSO picklable for prefetch-cache replay — a
        # list_iterator is both; a generator pickles not at all.
        return (iter([_tick_row(k) for k in range(lo, hi)]), {"idx": hi})

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_tick_row(k) for k in range(start["idx"], end["idx"])])


class SyntheticTicksSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_ticks"

    def schema(self) -> str:
        return "id long, bucket int, score double, user string"

    def simpleStreamReader(self, schema):
        return SyntheticTicksStreamReader(self.options)
