"""Format connectors beyond parquet: CSV and JSON sources, partitioned
parquet sink (SURVEY.md §2.2 row "scans / sources" — the reference has no
file connectors at all; its tests load JSON by hand,
tests/HLL/test_examples.py:35-43).

Each query is a write→read roundtrip against a scratch dir, proving the
sink produces files the matching source can faithfully re-read, then
aggregates the re-read data so the DuckDB oracle (over the original
parquet) checks end-to-end fidelity — types, quoting, nulls.

Scale notes: the partitioned-parquet sink demonstrates the layout choice
that matters most at 100 TB (partition column → directory pruning on
read); the read-back query filters on the partition column and Catalyst
prunes to one directory (PartitionFilters in the scan node). CSV/JSON are
ingest formats — the pattern is read-with-explicit-schema (never
inferSchema over 100 TB: it double-scans) then convert to columnar.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from hyperloglog_pyspark_spark.registry import register
from hyperloglog_pyspark_spark.session import _scratch
from hyperloglog_pyspark_spark.sources.catalog import load_table


CUSTOMER_DDL = "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"


@register(
    "source_csv_roundtrip",
    category="source",
    bench=True,
    oracle="""
    SELECT c_mktsegment, COUNT(*) AS n_customers,
           MIN(c_name) AS first_name,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer GROUP BY c_mktsegment
    """,
)
def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → CSV sink (header) → CSV source with explicit DDL schema
    → aggregate. Doubles round-trip exactly (Spark writes shortest
    round-trippable repr); never inferSchema at scale — it double-scans."""
    customer = load_table(spark, sf_dir, "customer")
    path = _scratch("csv", sf_dir)
    customer.write.mode("overwrite").option("header", True).csv(path)
    back = spark.read.schema(CUSTOMER_DDL).option("header", True).csv(path)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.min("c_name").alias("first_name"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_acctbal"),
    )


@register(
    "source_json_roundtrip",
    category="source",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (open status) → JSON-lines sink → JSON source with explicit
    schema → aggregate. Dates serialize as ISO strings; the explicit read
    schema restores DateType without inference."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    path = _scratch("json", sf_dir)
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]
    orders.select(cols).write.mode("overwrite").json(path)
    ddl = "o_orderkey long, o_orderstatus string, o_totalprice double, o_orderdate date, o_orderpriority string"
    back = spark.read.schema(ddl).json(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "sink_partitioned_parquet",
    category="sink",
    bench=True,
    oracle="""
    SELECT CAST(strftime(ts, '%Y-%m-%d') AS VARCHAR) AS day,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE event_type = 'click'
    GROUP BY 1
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → parquet sink partitioned by event_type → read back with a
    partition filter → per-day aggregate.

    The read-back filter on event_type never touches non-click
    directories (PartitionFilters in the scan, zero data read for pruned
    partitions) — the single most important layout decision at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    path = _scratch("part_parquet", sf_dir)
    (
        ev.select("event_id", "ts", "user_id", "value", "event_type")
        .write.mode("overwrite")
        .partitionBy("event_type")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    return back.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@register(
    "join_bucketed_colocated",
    category="join",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big join without a shuffle: both tables bucketed on the join
    key at write time, so the join is a zipped per-bucket hash join —
    neither side exchanges (bucketing IS the pre-paid shuffle; amortized
    across every future join on that key, the defining layout decision
    for fact-fact joins at 100 TB).

    Uses a scratch database (LOCATION under the process's scratch root)
    because bucket metadata lives in the catalog, not the parquet footers.
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"hllps_bucketed_{tag}"
    loc = _scratch("warehouse", sf_dir)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    for name, df, key in [("orders_b", orders, "o_orderkey"), ("lineitem_b", li, "l_orderkey")]:
        if not spark.catalog.tableExists(f"{db}.{name}"):
            # The in-memory catalog forgets tables across sessions but the
            # warehouse files persist; clear any stale location first.
            stale = os.path.join(loc, name)
            if os.path.exists(stale):
                shutil.rmtree(stale)
            (
                df.write.mode("overwrite")
                .bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(f"{db}.{name}")
            )
    ob = spark.table(f"{db}.orders_b")
    lb = spark.table(f"{db}.lineitem_b")
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        )
    )


@register(
    "source_orc_roundtrip",
    category="source",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           CAST(MAX(l_shipdate) AS DATE) AS last_ship
    FROM lineitem
    WHERE l_shipdate >= DATE '1998-01-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem (1998+) → ORC sink → ORC source → aggregate. ORC is the
    other first-class columnar format in Spark (vectorized reader,
    predicate pushdown via ORC bloom/min-max stripes); the roundtrip proves
    type fidelity for decimals-in-double, dates and strings.

    Scale: same layout rules as parquet — stripe-level pruning serves the
    pushed l_shipdate filter, and the explicit-schema read avoids footer
    inference over many files.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") >= "1998-01-01")
    path = _scratch("orc", sf_dir)
    cols = ["l_orderkey", "l_quantity", "l_returnflag", "l_linestatus", "l_shipdate"]
    li.select(cols).write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return (
        back.filter(F.col("l_shipdate") >= "1998-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
            F.max("l_shipdate").cast("date").alias("last_ship"),
        )
    )


@register(
    "source_text_roundtrip",
    category="source",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT c_name) AS BIGINT) AS n_distinct,
           MIN(c_name) AS first_line, MAX(c_name) AS last_line
    FROM customer
    """,
)
def source_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer names → line-oriented text sink → text source → line
    stats. Completes the core format matrix (parquet/csv/json/orc/text);
    the text connector is the raw-corpus entry path of every LLM data
    pipeline (one document per line, no schema, splittable by newline).
    """
    customer = load_table(spark, sf_dir, "customer")
    path = _scratch("text", sf_dir)
    customer.select(F.col("c_name").alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count_distinct("value").alias("n_distinct"),
        F.min("value").alias("first_line"),
        F.max("value").alias("last_line"),
    )


@register(
    "source_schema_evolution",
    category="source",
    oracle="""
    WITH unified AS (
        SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT COALESCE(o_orderpriority, '<pre-evolution>') AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM unified
    GROUP BY priority
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: an early batch written
    WITHOUT a column, a later batch WITH it, read back as one dataset via
    mergeSchema — rows from the old batch surface the new column as NULL
    (backfilled to a sentinel here so the report is total). This is the
    append-only lakehouse reality at 100 TB: columns arrive mid-stream
    and historical files are never rewritten.

    Scale note: mergeSchema reconciles footers at planning time — cheap
    next to the scan, but O(#files) on the driver; production tables pin
    the merged schema in a catalog and read with an EXPLICIT schema
    (the read path below demonstrates the merge; the aggregate is the
    usual partial+final pair)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = _scratch("evolve", sf_dir)
    orders.filter(F.col("o_orderkey") % 2 == 0).drop("o_orderpriority").write.mode(
        "overwrite"
    ).parquet(path + "/batch=old")
    orders.filter(F.col("o_orderkey") % 2 == 1).write.mode("overwrite").parquet(
        path + "/batch=new"
    )
    back = spark.read.option("mergeSchema", True).parquet(
        path + "/batch=old", path + "/batch=new"
    )
    return back.groupBy(
        F.coalesce("o_orderpriority", F.lit("<pre-evolution>")).alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@register(
    "sink_dynamic_partition_overwrite",
    category="sink",
    oracle="""
    WITH d AS (SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events)
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN CAST(e.ts AS DATE) = d.d0
                         THEN CAST(e.value AS DECIMAL(12,2)) * 2
                         ELSE CAST(e.value AS DECIMAL(12,2)) END) AS DOUBLE)
               AS total_value
    FROM events e CROSS JOIN d
    GROUP BY day
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent partition backfill: the full day-partitioned table is
    written once, then ONE day's partition is rewritten with corrected
    values (doubled) under partitionOverwriteMode=dynamic — only the
    partitions present in the incoming frame are replaced, every other
    day's files are untouched. This is the nightly-restatement pattern:
    at 100 TB you re-run one day, not the table (static overwrite mode
    would silently DROP all other partitions).

    The read-back aggregate proves both halves: the corrected day carries
    doubled sums, the remaining days are byte-identical to the original
    write."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", F.col("ts").cast("date").alias("day"), "value"
    )
    path = _scratch("dynpart", sf_dir)
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    d0 = ev.agg(F.min("day").alias("d0"))
    # Double via the same decimal the oracle uses (round-then-double ==
    # what the readback's decimal cast sees), not raw double arithmetic.
    corrected = (
        ev.join(F.broadcast(d0), ev["day"] == F.col("d0"))
        .select(
            "event_id",
            "day",
            (F.col("value").cast("decimal(12,2)") * 2).cast("double").alias("value"),
        )
    )
    corrected.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("day").parquet(path)
    back = spark.read.parquet(path).select(
        F.col("day").cast("date").alias("day"), "value"
    )
    return back.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total_value"),
    )


@register(
    "source_xml_roundtrip",
    category="source",
    oracle="""
    SELECT n_regionkey AS regionkey,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           MIN(n_name) AS first_nation
    FROM nation GROUP BY n_regionkey
    """,
)
def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → native XML sink (Spark 4 built-in, rowTag framing) → XML
    source with explicit DDL schema → aggregate. The classic enterprise
    feed format, round-tripped with the same no-inference discipline as
    CSV/JSON (schema inference over XML re-parses every file twice).
    """
    nation = load_table(spark, sf_dir, "nation")
    path = _scratch("xml", sf_dir)
    nation.write.mode("overwrite").format("xml").option("rootTag", "nations").option(
        "rowTag", "nation"
    ).save(path)
    ddl = "n_nationkey int, n_name string, n_regionkey int"
    back = spark.read.schema(ddl).format("xml").option("rowTag", "nation").load(path)
    return back.groupBy(F.col("n_regionkey").alias("regionkey")).agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
    )


N_MEDIA_FILES = 25  # one BMP per nationkey 0..24 — fixed fixture universe


@register(
    "source_binaryfile_media",
    category="source",
    oracle=f"""
    SELECT CAST(k AS BIGINT) AS media_id,
           CAST(1 + k % 64 AS BIGINT) AS width,
           CAST(1 + k % 48 AS BIGINT) AS height,
           CAST(54 + (1 + k % 48) * ((3 * (1 + k % 64) + 3) // 4 * 4) AS BIGINT)
               AS n_bytes
    FROM (SELECT unnest(range(0, {N_MEDIA_FILES})) AS k)
    """,
)
def source_binaryfile_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media landing zone → ``binaryFile`` source → Arrow-batched header
    decode: real BMP files on disk are read through Spark's built-in
    binary-file connector (path/length/content rows) and parsed with the
    pure-Python container codec (functions/mediacodec.py) inside
    mapInPandas — the exact ingest shape of a 100 TB image corpus, where
    blobs land as files and the first pipeline stage lifts them into a
    typed table. The oracle recomputes every header field arithmetically
    from the fixture parameters, so a parser misread (not just a crash)
    fails the hash check.

    The 25-file fixture is synthesized up front (deterministic bytes,
    idempotent scratch dir) standing in for the landing zone; the READ
    path — distributed file listing, per-file content rows, Arrow batch
    decode, no driver collects — is the part under test. binaryFile at
    scale: files partition across executors by size; keep blobs under
    ``spark.sql.files.maxPartitionBytes`` or decode streams instead.
    """
    import glob

    from hyperloglog_pyspark_spark.functions.mediacodec import decode_media, synth_bmp

    path = _scratch("media", sf_dir)
    os.makedirs(path, exist_ok=True)
    # Fixture synthesis (driver-side, 25 tiny constant files — replaces an
    # external landing zone, not data-dependent work).
    if len(glob.glob(os.path.join(path, "img_*.bmp"))) != N_MEDIA_FILES:
        for k in range(N_MEDIA_FILES):
            with open(os.path.join(path, f"img_{k:03d}.bmp"), "wb") as f:
                f.write(synth_bmp(1 + k % 64, 1 + k % 48, seed=k))
    files = spark.read.format("binaryFile").load(os.path.join(path, "*.bmp"))

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["path"].str.extract(r"img_(\d+)\.bmp$")[0].astype("int64")
            metas = pdf["content"].map(lambda b: decode_media(bytes(b)))
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "width": metas.map(lambda m: m["width"]),
                    "height": metas.map(lambda m: m["height"]),
                    "n_bytes": metas.map(lambda m: m["n_bytes"]),
                }
            )

    return files.select("path", "content").mapInPandas(
        decode_batches,
        schema="media_id long, width long, height long, n_bytes long",
    )
