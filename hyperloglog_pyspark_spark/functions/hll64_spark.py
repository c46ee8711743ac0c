"""Spark integration for the clean-room HLL64 sketch: a two-phase
distributed aggregate over DataFrames.

Phase 1 (map-side combine): mapInPandas folds each Arrow batch into one
partial register array per group — the engine-level analog of the
reference's `mapPartitions(init_compute_hmaps(k))` (HLL/examples.py:39-53),
but batched through Arrow instead of pickled Python rows.

Phase 2 (final merge): groupBy(group).applyInPandas max-merges the partial
arrays — the reference's `reduce(lambda x, y: x + y)` (HLL/examples.py:66)
expressed relationally. Partials are one small binary row per (batch,
group), so the shuffle moves KBs regardless of input size — the property
that makes this hold at 100 TB.

Production note: this path exists for bit-parity with the reference's
sha1-based estimates and as the template for custom sketch UDAFs; for
plain approximate distinct counts prefer the JVM-side built-ins
(approx_count_distinct / hll_sketch_agg, operators/sketch.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from hyperloglog_pyspark_spark.functions import hll64


def hll64_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, k: int,
    hash_func=None,
) -> DataFrame:
    """Aggregate `value_col` into one HLL64 sketch per group.

    Returns (group_cols..., sketch: binary). Values are canonicalized with
    CAST(value AS STRING) to preserve the reference's str()-before-hash
    equality semantics (HyperLogLog.py:110). ``hash_func`` (default sha1)
    mirrors the reference constructor's pluggable hash
    (HyperLogLog.py:58); the callable is closure-captured and shipped to
    executors with the Arrow UDF — pass a top-level hashlib constructor
    (hashlib.md5, hashlib.sha256, ...) so it pickles.
    """
    p = hll64.p_from_k(k)
    hf = hash_func if hash_func is not None else hashlib.sha1
    src = df.select(*group_cols, F.col(value_col).cast("string").alias("__v"))
    group_fields = [src.schema[c] for c in group_cols]
    partial_schema = StructType(group_fields + [StructField("sketch", BinaryType())])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # One register array per group key seen in this worker's batches.
        acc: dict[tuple, object] = {}
        for pdf in batches:
            for key, vals in pdf.groupby(list(group_cols), sort=False, dropna=False)["__v"]:
                key = key if isinstance(key, tuple) else (key,)
                regs = acc.get(key)
                if regs is None:
                    regs = acc[key] = hll64.empty_registers(p)
                hll64.update_registers(regs, vals.to_numpy(), p, hash_func=hf)
        rows = [(*key, hll64.serialize(regs)) for key, regs in acc.items()]
        yield pd.DataFrame(rows, columns=[*group_cols, "sketch"])

    partials = src.mapInPandas(partial, schema=partial_schema)

    def final_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = hll64.empty_registers(p)
        for blob in pdf["sketch"]:
            merged = hll64.merge_registers(merged, hll64.deserialize(blob))
        out = pdf.iloc[[0]][list(group_cols)].copy()
        out["sketch"] = [hll64.serialize(merged)]
        return out

    return partials.groupBy(*group_cols).applyInPandas(final_merge, schema=partial_schema)


def hll64_estimate_col(df: DataFrame, sketch_col: str = "sketch", alias: str = "estimate") -> DataFrame:
    """Append the cardinality estimate of a binary sketch column."""

    @F.pandas_udf("double")
    def _est(s: pd.Series) -> pd.Series:
        return s.map(lambda blob: hll64.estimate(hll64.deserialize(blob)))

    return df.withColumn(alias, _est(F.col(sketch_col)))


def estimate_distinct(
    df: DataFrame, value_col: str, k: int, hash_func=None
) -> DataFrame:
    """Global distinct estimate of a DataFrame column: returns a one-row
    DataFrame (estimate: double). This is the DataFrame-input form; the
    drop-in ``api.estimate_distinct_elements_parallel`` takes driver-local
    sequences and does not run through here (it is one RDD stage plus a
    driver-side merge)."""
    sketch = hll64_sketch(
        df.withColumn("__g", F.lit(1)), ["__g"], value_col, k,
        hash_func=hash_func,
    )
    return hll64_estimate_col(sketch).select("estimate")
