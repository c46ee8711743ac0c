"""Misra-Gries heavy-hitters sketch as a two-phase distributed aggregate —
the frequency-counting sibling of the HLL64 sketch (functions/hll64_spark.py).
Its per-partition compression (below) has no Spark aggregate to build it,
so it runs as an Arrow partial/merge pair.

Summary algebra (Misra & Gries 1982; mergeability per Agarwal et al.,
"Mergeable Summaries", PODS 2012):
- A partition's exact counts compress to ≤ k counters by subtracting the
  (k+1)-th largest count from every counter and dropping non-positives.
  Each counter then underestimates its item's partition frequency by at
  most that subtrahend, and the subtrahends across partitions sum to at
  most n/(k+1) (each subtraction removes ≥ k+1 occurrences from the mass).
- Partial summaries merge by plain per-item addition; the merged result
  keeps the summed error bound. (A final re-compression to k counters is
  only needed to bound memory, not for the guarantee — we skip it, keeping
  at most k·P counters for P partitions, KBs at any scale.)

Guarantee carried to the caller: for every item with true frequency
f > n/(k+1), the item IS present in the merged summary with weight w in
[f − n/(k+1), f]. The registered query (operators/sketch.py::
heavy_hitters_mg) checks exactly that contract against exact counts.

The reference contains no frequency sketch (it is an HLL library,
HLL/HyperLogLog.py); this extends the sketch family along the published
mergeable-summaries line.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StringType, StructField, StructType


def mg_compress(counts: pd.Series, k: int) -> pd.Series:
    """Compress exact counts to a ≤k-counter Misra-Gries summary."""
    if len(counts) <= k:
        return counts
    ordered = counts.sort_values(ascending=False, kind="mergesort")
    sub = int(ordered.iloc[k])
    kept = ordered - sub
    return kept[kept > 0]


def mg_summary(df: DataFrame, item_col: str, k: int) -> DataFrame:
    """Merged Misra-Gries summary of `item_col`: (item, weight ≤ true freq).

    Phase 1: one compressed summary per partition (mapInPandas folds the
    partition's Arrow batches into exact counts, then compresses once).
    Phase 2: per-item weight addition — a plain groupBy sum, so Catalyst
    gives the merge partial aggregation and AQE for free. The shuffle
    carries ≤ k rows per partition regardless of input size.
    """
    src = df.select(df[item_col].cast("string").alias("item"))
    partial_schema = StructType(
        [StructField("item", StringType()), StructField("weight", LongType())]
    )

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: pd.Series | None = None
        for pdf in batches:
            counts = pdf["item"].value_counts(sort=False)
            acc = counts if acc is None else acc.add(counts, fill_value=0)
        if acc is None:
            yield pd.DataFrame({"item": [], "weight": []}).astype(
                {"item": "object", "weight": "int64"}
            )
            return
        kept = mg_compress(acc.astype("int64"), k)
        yield pd.DataFrame({"item": kept.index.astype("object"), "weight": kept.to_numpy()})

    from pyspark.sql import functions as F

    return (
        src.mapInPandas(partial, schema=partial_schema)
        .groupBy("item")
        .agg(F.sum("weight").cast("long").alias("weight"))
    )
