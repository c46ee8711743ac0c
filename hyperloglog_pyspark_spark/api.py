"""Drop-in surface for users of the reference library.

The reference's public API is three example functions
(HLL/examples.py:16, 56, 70) plus the two sketch CLASSES they build on
(HLL/HyperLogLog.py:42, 179). This module re-exposes all five with the
SAME signatures and the same sha1/str() estimate semantics — a script
written against the reference switches by changing one import:

    from hyperloglog_pyspark_spark.api import (
        estimate_distinct_elements,
        estimate_distinct_elements_parallel,
        calculate_empirical_accuracy,
    )

Differences, all deliberate:
- the parallel form accepts a SparkSession OR a SparkContext where the
  reference required a SparkContext (HLL/examples.py:56-67) — modern
  entry points hand you a session;
- the parallel estimate is ONE job of ONE stage with no shuffle, no
  DataFrame and no Arrow: it folds each partition into one serialized
  register array (mapPartitions) and max-merges the ≤
  defaultParallelism partials on the driver, as the reference does
  with mapPartitions + reduce;
- the exact oracle runs no job: the driver already holds the items, so
  it counts them with ``len(set(items))``, the same raw-object equality
  as the reference's ``parallelize(items).distinct().count()``;
- the reference's latent bugs are fixed, not reproduced: 32-bit
  high-range NameError (HyperLogLog.py:153) and the raw-k merge
  compatibility check (HyperLogLog.py:165-167, p-compat here).

Estimates are bit-for-bit equal to the reference's on its own fixtures
(645.2579301443818 / 2875.28999 — tests/test_hll64.py goldens; API-level
parity in tests/test_api_dropin.py).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import SparkSession

from hyperloglog_pyspark_spark.functions import hll64


class HyperLogLog:
    """Drop-in for the reference's 32-bit sketch CLASS
    (HLL/HyperLogLog.py:42-177) — the surface users who instantiate
    sketches directly (rather than calling the example functions) code
    against: ``HyperLogLog(k, hash_func=...)`` + ``append`` /
    ``extend`` / ``cardinality`` / ``merge`` / ``+``, with the same
    public attributes (k, p, m, effective_k, alpha, error, hmap).

    Clean-room over the engine's vectorized register functions
    (functions/hll64.py) — the numpy array IS the state; ``hmap``
    is a reference-compatible list view of it.

    Deliberate divergences (same doctrine as functions/hll64.py):
    - merge compatibility is checked on p, not raw k
      (HyperLogLog.py:165-167 refuses k=250 vs k=256, which share
      p=8 and merge exactly);
    - the 32-bit high-range branch calls math.log (the reference's
      bare ``log`` NameErrors at runtime, HyperLogLog.py:153);
    - ranks count only the bits that survive the p%4 hex-truncation
      shift (see functions/hll64.py's rank-width note — register keys,
      and so every linear-counting golden, are bit-identical).
    """

    hash_bits = 32

    def __init__(self, k: int, hash_func=hashlib.sha1):
        self.k = int(k)
        self.hash_func = hash_func
        self.p = hll64.p_from_k(k, hash_bits=self.hash_bits)
        self.m = self.effective_k = 2**self.p
        self.registers = hll64.empty_registers(self.p)
        self.alpha = hll64.alpha(self.m)
        self.error = 1.04 / math.sqrt(self.m)

    @property
    def hmap(self) -> list[int]:
        """Reference-compatible register view (HyperLogLog.py:84)."""
        return [int(r) for r in self.registers]

    def append(self, element) -> None:
        hll64.update_registers(
            self.registers, [str(element)], self.p,
            hash_bits=self.hash_bits, hash_func=self.hash_func,
        )

    def extend(self, elements) -> None:
        hll64.update_registers(
            self.registers, [str(x) for x in elements], self.p,
            hash_bits=self.hash_bits, hash_func=self.hash_func,
        )

    @property
    def cardinality(self) -> float:
        return hll64.estimate32(self.registers)

    def merge(self, *others: "HyperLogLog") -> None:
        for other in others:
            if self.p != other.p:
                raise ValueError(
                    f"incompatible sketch precisions: p={self.p} vs "
                    f"p={other.p} (register counts {self.m} vs {other.m})"
                )
        for other in others:
            self.registers = hll64.merge_registers(
                self.registers, other.registers
            )

    def __add__(self, other: "HyperLogLog") -> "HyperLogLog":
        out = self.__class__(self.k, self.hash_func)
        out.merge(self, other)
        return out


class HyperLogLog64(HyperLogLog):
    """Drop-in for the reference's 64-bit sketch class
    (HLL/HyperLogLog.py:179-255): 16-hex-char hashes, k up to 2¹⁸, and
    the HLL++ estimate staging (linear counting inside its threshold
    regime, bias-corrected raw estimate to 5m) — via the engine's
    published-table implementation (functions/hllpp_bias_tables.py),
    whose 6-NN interpolation indexes the bias curve absolutely (the
    reference's slice-relative indexing bug is fixed, not reproduced;
    divergence pinned in tests/test_hll64.py)."""

    hash_bits = 64

    @property
    def cardinality(self) -> float:
        return hll64.estimate(self.registers)


def estimate_distinct_elements(items, k: int, hash_func=None) -> float:
    """Estimate the number of distinct elements in ``items`` locally.

    Mirrors HLL/examples.py:16-25: HyperLogLog64(k) + extend + cardinality,
    with the reference's str()-before-sha1 equality semantics
    (HyperLogLog.py:110) — 11 and "11" collide, 11 and 11.0 do not.
    ``hash_func`` forwards the reference constructor's pluggable-hash
    kwarg (HyperLogLog.py:58, ``HyperLogLog(k, hash_func=hashlib.sha1)``)
    which the reference's example functions hard-wire away; a port that
    built its sketches with ``hash_func=hashlib.md5`` passes it here.
    """
    import hashlib

    p = hll64.p_from_k(k)
    regs = hll64.empty_registers(p)
    hll64.update_registers(
        regs, [str(x) for x in items], p,
        hash_func=hash_func if hash_func is not None else hashlib.sha1,
    )
    return hll64.estimate(regs)


def _spark_context(sc):
    """The SparkContext behind a SparkSession or SparkContext handle."""
    return sc.sparkContext if isinstance(sc, SparkSession) else sc


def estimate_distinct_elements_parallel(
    lists_of_items, k: int, sc, hash_func=None
) -> float:
    """Distributed estimate over a collection of sequences.

    Mirrors HLL/examples.py:56-67 (the reference flagship): partial
    sketches on the cluster, associatively merged, evaluated once. ``sc``
    may be a SparkSession or a SparkContext. One job of one stage: each
    partition of the flattened, str()-ed elements folds into one register
    array, the ≤ defaultParallelism serialized partials are collected,
    and the driver max-merges them and runs ``hll64.estimate``. Register
    max is an exact merge, so the estimate is bit-identical to
    ``estimate_distinct_elements`` over the same elements, whatever the
    sequence split or partitioning. ``hash_func`` forwards the reference
    constructor's pluggable hash (HyperLogLog.py:58) into the
    executor-side sketch updates; pass a picklable top-level constructor
    (hashlib.md5, ...).
    """
    p = hll64.p_from_k(k)
    hf = hash_func if hash_func is not None else hashlib.sha1
    # str() on the driver: the workers then only ever see strings, so
    # elements whose class is not importable on a worker still work.
    flat = [str(x) for seq in lists_of_items for x in seq]

    def partial(values):
        regs = hll64.empty_registers(p)
        hll64.update_registers(regs, list(values), p, hash_func=hf)
        yield hll64.serialize(regs)

    blobs = _spark_context(sc).parallelize(flat).mapPartitions(partial).collect()
    regs = hll64.empty_registers(p)
    for blob in blobs:
        regs = hll64.merge_registers(regs, hll64.deserialize(blob))
    return hll64.estimate(regs)


def calculate_empirical_accuracy(items, estimate: float, sc, relative: bool = True) -> float:
    """Exact-count oracle for an estimate.

    Mirrors HLL/examples.py:70-83: the exact distinct count, then
    (cardinality − estimate)/cardinality (relative, the default) or the
    signed absolute difference.

    Distinctness is over the RAW items (Python-object equality), exactly
    as the reference's ``parallelize(items).distinct()`` — note this is a
    *different* equality than the str()-before-sha1 the estimators use
    (HyperLogLog.py:110): to the oracle [11, "11"] has 2 distinct values
    and [11, 11.0] has 1, while the sketch sees the opposite. The count is
    ``len(set(items))`` on the driver and runs no Spark job: the driver
    already holds ``items``, and hashing them into a set costs less than
    pickling them for ``parallelize``. ``sc`` (a SparkSession or
    SparkContext) is accepted for signature compatibility and unused.
    """
    cardinality = len(set(items))
    if relative:
        return (cardinality - estimate) / cardinality
    return cardinality - estimate
