"""Test harness mirroring the driver's DuckDB-oracle comparison.

The per-round driver runs each queries()[name] on Spark and the matching
oracle_sql()[name] on DuckDB over the same parquet, then compares
row-count + schema (column names) + order-insensitive value hash. This
module reproduces that comparison strictly (exact value equality after
canonical normalization) so a green pytest run predicts a green
CORRECTNESS_r{N}.json.
"""

from __future__ import annotations

import datetime
import math
from decimal import Decimal

import duckdb
import pandas as pd

from hyperloglog_pyspark_spark.sources.catalog import TABLES


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def write_documents(dirpath: str, texts: list, source) -> None:
    """Write ``texts`` as the documents table under ``dirpath``: doc_id
    0..n-1, lang 'en', and ``source`` either one string for every
    document or one string per document."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    sources = [source] * n if isinstance(source, str) else list(source)
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "lang": pa.array(["en"] * n),
                "source": pa.array(sources, pa.string()),
                "n_chars": pa.array([len(t or "") for t in texts], pa.int64()),
            }
        ),
        os.path.join(dirpath, "documents.parquet"),
    )


def _canon_scalar(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "\0NaN"
        # repr distinguishes every distinct double; both engines must agree
        # bit-for-bit (the engine's hash-match discipline guarantees this).
        return f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, bool):
        return f"b:{int(v)}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.datetime):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, datetime.date):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"y:{bytes(v).hex()}"
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_canon_scalar(x) for x in v) + "]"
    return f"s:{v}"


def canon_rows(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = [tuple(_canon_scalar(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    rows.sort()
    return rows


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?") -> None:
    spdf = spark_df.toPandas()
    ddf = con.execute(sql).df()
    assert sorted(spdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch spark={sorted(spdf.columns)} duck={sorted(ddf.columns)}"
    )
    assert len(spdf) == len(ddf), f"{name}: row count spark={len(spdf)} duck={len(ddf)}"
    srows, drows = canon_rows(spdf), canon_rows(ddf)
    mismatches = [(i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"


def fuzz_oracle_row(cache: dict, make_con, q: str):
    """Shared fuzz-test oracle runner: run ``q`` on a private, lazily
    (re)built DuckDB connection. DuckDB 1.0.0 raises InternalException on
    some generated predicates and that invalidates the whole connection —
    so the connection lives in ``cache`` and is rebuilt via ``make_con``
    after an internal error, returning None (the caller treats an
    ORACLE-side crash as a vacuous pass once the engine itself answered).
    """
    if "con" not in cache:
        cache["con"] = make_con()
    try:
        return cache["con"].execute(q).df().iloc[0]
    except (duckdb.InternalException, duckdb.FatalException):
        try:
            cache["con"].close()
        except Exception:
            pass
        del cache["con"]
        return None
