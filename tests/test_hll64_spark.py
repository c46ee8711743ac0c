"""The grouped Spark sketch (functions/hll64_spark.py) against the local
register recipe (functions/hll64.py): registers built by Spark's hash
aggregate must equal ``hll64.update_registers``'s bit for bit, the
``sketch`` bytes must equal ``hll64.serialize`` of the local registers,
nulls keep their str()-before-hash meaning, and the plan keeps one Python
node."""

from __future__ import annotations

import hashlib
import random

import numpy as np
import pytest

from pyspark.sql import functions as F

from hyperloglog_pyspark_spark.functions import hll64
from hyperloglog_pyspark_spark.functions.hll64_spark import hll64_estimate_col, hll64_sketch
from plan_audit import walk_plan

_PY_NODES = {"ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"}


def _rows(seed: int = 5, n: int = 3000) -> list[tuple]:
    """(g, v) rows over three groups, one of them the null key; values
    include the empty string, unicode, the string "None" and null."""
    rng = random.Random(seed)
    pool = ["", "ü", "日本語", "𝄞x", "None", None, "11", "11.0"]
    pool += [rng.choice((f"s{i}", f"ø{i}", str(i))) for i in range(1500)]
    return [(rng.choice((0, 1, None)), rng.choice(pool)) for _ in range(n)]


def _local(rows, p: int, hash_func=hashlib.sha1) -> dict:
    vals: dict = {}
    for g, v in rows:
        vals.setdefault(g, []).append(str(v))
    return {g: hll64.update_registers(hll64.empty_registers(p), vs, p, hash_func=hash_func)
            for g, vs in vals.items()}


def _python_nodes(df) -> list[str]:
    names = [n.nodeName() for n in walk_plan(df._jdf.queryExecution().executedPlan())]
    return [n for n in names if n in _PY_NODES]


def test_null_value_hashes_as_none_and_null_key_is_a_group(spark):
    # str(None) == "None": a null value is the string "None" to the sketch
    # (16 registers, linear counting: 16·ln(16/14) = 2.1365 for two values)
    df = spark.createDataFrame(
        [(1, "a"), (1, None), (None, "x"), (None, "y"), (None, "x"), (2, "None")],
        "g long, v string",
    )
    out = {r["g"]: r["estimate"] for r in hll64_estimate_col(hll64_sketch(df, ["g"], "v", 16)).collect()}
    local = {g: hll64.estimate(regs) for g, regs in _local(
        [(1, "a"), (1, "None"), (None, "x"), (None, "y"), (2, "None")], 4).items()}
    assert out == local
    assert out[1] == pytest.approx(2.1365, abs=1e-4)
    assert set(out) == {1, 2, None}


@pytest.mark.parametrize("hash_name", ["sha1", "md5", "sha256"])
def test_jvm_registers_equal_update_registers(spark, hash_name):
    from hyperloglog_pyspark_spark.functions.hll64_spark import _registers
    from hyperloglog_pyspark_spark.registry import checkpoint_tracked

    hf = getattr(hashlib, hash_name)
    rows = _rows()
    # checkpointed, so the 30 union branches rescan JVM rows, not a Python
    # RDD; tracked, so release_caches() frees its blocks
    df = checkpoint_tracked(spark.createDataFrame(rows, "g long, v string"))
    ps = range(hll64.P_MIN, hll64.P_MAX + 1)
    regs = _registers(df, ["g"], "v", ps[0], hf).withColumn("p", F.lit(ps[0]))
    sketches = hll64_sketch(df, ["g"], "v", 2 ** ps[0], hf).withColumn("p", F.lit(ps[0]))
    for p in ps[1:]:
        regs = regs.unionByName(_registers(df, ["g"], "v", p, hf).withColumn("p", F.lit(p)))
        sketches = sketches.unionByName(
            hll64_sketch(df, ["g"], "v", 2**p, hf).withColumn("p", F.lit(p)))
    jvm = {(r["p"], r["g"]): dict(zip(r["__keys"], r["__ranks"])) for r in regs.collect()}
    blobs = {(r["p"], r["g"]): r["sketch"] for r in sketches.collect()}
    assert set(jvm) == set(blobs) == {(p, g) for p in ps for g in (0, 1, None)}
    for p in ps:
        for g, want in _local(rows, p, hf).items():
            nonzero = np.flatnonzero(want)
            assert jvm[p, g] == dict(zip(nonzero.tolist(), want[nonzero].tolist())), (p, g)
            assert blobs[p, g] == hll64.serialize(want), (p, g)


def test_grouped_plan_is_one_arrow_node(spark):
    df = spark.createDataFrame(_rows(n=200), "g long, v string")
    assert _python_nodes(hll64_estimate_col(hll64_sketch(df, ["g"], "v", 4096))) == ["ArrowEvalPython"]


@pytest.mark.parametrize("hash_func", [hashlib.sha3_256, hashlib.blake2b])
def test_hash_without_spark_builtin_keeps_the_plan(spark, hash_func):
    # a hash Spark has no built-in for only moves h into a pandas_udf
    rows = _rows(n=1500)
    df = spark.createDataFrame(rows, "g long, v string")
    est = hll64_estimate_col(hll64_sketch(df, ["g"], "v", 4096, hash_func=hash_func))
    assert _python_nodes(est) == ["ArrowEvalPython", "ArrowEvalPython"]
    out = {r["g"]: r["estimate"] for r in est.collect()}
    assert out == {g: hll64.estimate(regs) for g, regs in _local(rows, 12, hash_func).items()}
