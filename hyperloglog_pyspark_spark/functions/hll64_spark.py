"""Spark integration for the clean-room HLL64 sketch: registers built by
Spark's own hash aggregate, assembled and estimated in one Arrow node.

HLL registers are a per-key max, an exact mergeable aggregate, so the JVM
builds them bit for bit as ``hll64.update_registers`` does: a Catalyst
expression hashes each row to its 64-bit prefix h (16 hex chars of sha1 /
md5 / sha2 as a signed long, >>> the p%4 truncation shift), then
``groupBy(group, key).max(rank)`` and a per-group ``collect_list`` of keys
and ranks run as partial/final hash aggregates — the reference's
mapPartitions + reduce (HLL/examples.py:39-67). One scalar pandas_udf
scatters each group's lists into the register array; ``hll64_estimate_col``
chains onto it, so Spark runs both in one ArrowEvalPython node. Plain
approximate counts: prefer approx_count_distinct / hll_sketch_agg.
"""

from __future__ import annotations

import hashlib

import pandas as pd

from pyspark.sql import DataFrame, functions as F

from hyperloglog_pyspark_spark.functions import hll64

# hashlib constructors whose hex digest Spark computes natively.
_JVM_HEX_DIGESTS = {
    hashlib.sha1: F.sha1,
    hashlib.md5: F.md5,
    **{getattr(hashlib, f"sha{n}"): (lambda c, n=n: F.sha2(c, n)) for n in (224, 256, 384, 512)},
}


def _registers(df: DataFrame, group_cols: list[str], value_col: str, p: int, hash_func) -> DataFrame:
    """(group_cols..., __keys, __ranks): each group's nonzero registers, built on
    the JVM from h, the first 8 bytes of hash_func(UTF-8 of the value) as a long."""
    v = F.coalesce(F.col(value_col).cast("string"), F.lit("None"))
    hex_digest = _JVM_HEX_DIGESTS.get(hash_func)
    if hex_digest is not None:
        h = F.conv(F.substring(hex_digest(v.cast("binary")), 1, 16), 16, -10).cast("long")
    else:
        @F.pandas_udf("long")
        def prefix(s: pd.Series) -> pd.Series:
            return s.map(lambda x: int.from_bytes(hash_func(x.encode()).digest()[:8], "big", signed=True))

        h = prefix(v)
    shift = (4 - p % 4) if p % 4 else 0
    rest = F.shiftrightunsigned("__h", p)
    rank = hll64.HASH_BITS - shift - p + 1 - F.when(rest == 0, 0).otherwise(F.length(F.bin(rest)))
    return (  # h gets its own projection so key and rank share one hash per row
        df.select(*group_cols, F.shiftrightunsigned(h, shift).alias("__h"))
        .select(*group_cols, F.col("__h").bitwiseAND((1 << p) - 1).cast("int").alias("__key"),
                rank.cast("tinyint").alias("__rank"))
        .groupBy(*group_cols, "__key").agg(F.max("__rank").alias("__rank"))
        .groupBy(*group_cols)
        .agg(F.collect_list("__key").alias("__keys"), F.collect_list("__rank").alias("__ranks"))
    )


def hll64_sketch(df: DataFrame, group_cols: list[str], value_col: str, k: int, hash_func=None) -> DataFrame:
    """Aggregate `value_col` into one HLL64 sketch per group: returns
    (group_cols..., sketch: binary), the ``hll64.serialize`` bytes of the
    registers ``hll64.update_registers`` builds from the group's values.
    Values hash as CAST(value AS STRING), null as "None": the reference's
    str()-before-hash semantics (HyperLogLog.py:110). A null group key is
    its own group. ``hash_func`` (default sha1) is the reference's
    pluggable hash (HyperLogLog.py:58): hashlib's sha1, md5 and sha224-512
    run on the JVM, any other picklable callable in a pandas_udf.
    """
    p = hll64.p_from_k(k)
    registers = _registers(df, group_cols, value_col, p, hash_func or hashlib.sha1)

    @F.pandas_udf("binary")
    def assemble(keys: pd.Series, ranks: pd.Series) -> pd.Series:
        out = []
        for ks, rs in zip(keys, ranks):
            regs = hll64.empty_registers(p)
            regs[ks] = rs  # keys are unique within a group: a scatter is the max
            out.append(hll64.serialize(regs))
        return pd.Series(out)

    return registers.select(*group_cols, assemble("__keys", "__ranks").alias("sketch"))


def hll64_estimate_col(df: DataFrame, sketch_col: str = "sketch", alias: str = "estimate") -> DataFrame:
    """Append the cardinality estimate of a binary sketch column."""

    @F.pandas_udf("double")
    def _est(s: pd.Series) -> pd.Series:
        return s.map(lambda blob: hll64.estimate(hll64.deserialize(blob)))

    return df.withColumn(alias, _est(F.col(sketch_col)))


def estimate_distinct(df: DataFrame, value_col: str, k: int, hash_func=None) -> DataFrame:
    """Global distinct estimate of a DataFrame column, as a one-row
    DataFrame (estimate: double). The drop-in api takes driver-local
    sequences instead (api.estimate_distinct_elements_parallel)."""
    sketch = hll64_sketch(df.withColumn("__g", F.lit(1)), ["__g"], value_col, k, hash_func=hash_func)
    return hll64_estimate_col(sketch).select("estimate")
