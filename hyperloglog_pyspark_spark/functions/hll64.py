"""Clean-room HyperLogLog64 — behavior-parity sketch with the reference.

Implements the published HLL/HLL++ estimator (Flajolet et al. 2007; Heule
et al. 2013) with the *reference's observable semantics*, studied from
/root/reference/HLL/HyperLogLog.py (cited below, no code copied):

- elements are canonicalized via str() before hashing (HyperLogLog.py:110)
  — so 11 and "11" collide while 11 and 11.0 do not;
- hash = first 16 hex chars of sha1 (64 bits, HyperLogLog.py:111 with
  hex_length=16 at :195);
- when p % 4 != 0 the value is right-shifted by 4 - p%4 first
  (HyperLogLog.py:112-113 — a quirk of hex-prefix truncation the
  reference applies; kept for bit-parity);
- register key = low p bits, rank = 64 - p - bitlength(rest) + 1
  (HyperLogLog.py:115-119);
- estimate = linear counting m·ln(m/V) while V>0 and LC ≤ threshold[p-4]
  (HyperLogLog64.cardinality, :240-255); else the harmonic-mean raw
  estimate (:132-137), bias-corrected while raw ≤ 5m via the published
  empirical tables (Heule et al. 2013 appendix; hllpp_bias_tables.py);
- a 32-bit variant mirroring the reference's base HyperLogLog class
  (:40-155): 32-bit sha1 prefix, low-order LC below 5m/2, high-range
  collision correction −2³²·ln(1 − E/2³²) above 2³²/30.

Deliberate divergences (correctness over bug-parity, SURVEY.md §4):
- merge compatibility is checked on p, not raw k (fixes the latent bug at
  HyperLogLog.py:165-167 where k=250 and k=256 share p=8 but won't merge);
- estimate_bias implements Heule et al.'s 6-NN interpolation *correctly*:
  the reference's version (HyperLogLog.py:196-231) silently returns bias 0
  whenever bisect lands within 2k of the curve's start (a negative-start
  Python slice that comes back empty), and otherwise indexes biasData with
  slice-RELATIVE positions, pairing raw-estimate points with the wrong
  bias values unless the slice starts exactly at 0. We clamp the window
  and index absolutely (tests pin both behaviors' divergence);
- the reference's 32-bit high-range branch (HyperLogLog.py:151-153) calls
  a bare ``log`` that NameErrors at runtime; fixed to math.log here;
- rank width: after the p%4 shift only hash_bits−shift bits remain, but
  the reference computes ranks as if none were dropped (:115-119),
  inflating every rank by `shift` and mid-range estimates by 2^shift
  when p % 4 != 0. We count ranks over the bits that exist; register
  keys — and so linear counting, where all reference goldens live — are
  bit-identical either way.

Architecture: not an object-per-element port — registers are numpy arrays
updated a batch of values at a time. This module is the reference
implementation of the register recipe: the drop-in api folds each RDD
partition with ``update_registers`` and max-merges the partials on the
driver, and the grouped DataFrame sketch (functions/hll64_spark.py)
computes the same (key, rank) pairs as Catalyst expressions and takes the
per-key max in Spark's hash aggregate. Both end in ``estimate`` on the
assembled array, so every path shares one float summation order.
"""

from __future__ import annotations

import hashlib
import math
from bisect import bisect

import numpy as np

from hyperloglog_pyspark_spark.functions.hllpp_bias_tables import (
    bias_data,
    raw_estimate_data,
    threshold,
)

# Linear-counting switch thresholds for p = 4..18, from the HLL++ paper's
# published appendix (Heule et al. 2013, "threshold" column).
LC_THRESHOLD = [threshold(p) for p in range(4, 19)]

P_MIN, P_MAX = 4, 18
P_MAX_32 = 16
HASH_BITS = 64


def p_from_k(k: int, hash_bits: int = 64) -> int:
    """Requested register count k → precision p = ceil(log2 k), validated
    to the reference's range: [2^4, 2^18] for the 64-bit sketch
    (HyperLogLog.py:73-83,196), [2^4, 2^16] for the 32-bit one (:74)."""
    p_max = P_MAX if hash_bits == 64 else P_MAX_32
    if not (2**P_MIN <= int(k) <= 2**p_max):
        raise ValueError(f"k={k} out of range [{2**P_MIN}, {2**p_max}]")
    return int(math.ceil(math.log2(int(k))))


def alpha(m: int) -> float:
    """Bias-correction constant from the published estimator."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def empty_registers(p: int) -> np.ndarray:
    return np.zeros(2**p, dtype=np.uint8)


def update_registers(
    registers: np.ndarray, values, p: int, hash_bits: int = 64,
    hash_func=hashlib.sha1,
) -> np.ndarray:
    """Fold a batch of already-stringified values into the register array.

    Vectorized where it matters: the per-element part is only one digest
    and an ``int.from_bytes`` of its leading bytes; the register max-merge
    is a single np.maximum.at scatter. hash_bits=32 gives the reference's
    base (32-bit) sketch semantics: a 4-byte (8-hex-char) sha1 prefix and
    ranks counted from bit 32. hash_func mirrors the reference
    constructor's pluggable hash (HyperLogLog.py:58,
    ``HyperLogLog(k, hash_func=hashlib.sha1)``): any hashlib-style
    callable whose digest is ≥ hash_bits/8 bytes long — its prefix is
    consumed exactly as sha1's is. The prefix is the digest's leading
    hash_bits/8 bytes, big-endian: the same bits the reference parses
    from hash_bits/4 hex chars, without the hex round-trip.
    """
    m = 1 << p
    n_bytes = hash_bits // 8
    shift = (4 - p % 4) if p % 4 else 0
    # Rank width accounts for the hex-truncation shift: after dropping
    # `shift` bits only hash_bits−shift remain. The reference counts ranks
    # as if all hash_bits remained (HyperLogLog.py:112-119), inflating
    # every rank by `shift` when p % 4 != 0 — which multiplies mid-range
    # estimates by 2^shift (4× at p=14). Divergence kept deliberately:
    # keys (and therefore linear counting, where every reference golden
    # lives) are bit-identical either way.
    rank_bits = hash_bits - shift
    keys = np.empty(len(values), dtype=np.int64)
    ranks = np.empty(len(values), dtype=np.uint8)
    for i, v in enumerate(values):
        h = int.from_bytes(hash_func(str(v).encode()).digest()[:n_bytes], "big") >> shift
        keys[i] = h & (m - 1)
        rest = h >> p
        ranks[i] = rank_bits - p - rest.bit_length() + 1
    np.maximum.at(registers, keys, ranks)
    return registers


def merge_registers(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Associative, commutative sketch merge: elementwise register max —
    the mergeability property that makes HLL a distributed aggregate."""
    if a.shape != b.shape:
        raise ValueError(f"incompatible sketch precisions: m={a.size} vs m={b.size}")
    return np.maximum(a, b)


def estimate_bias(E: float, p: int, k: int = 6) -> float:
    """Empirical bias at raw estimate E for precision p: bisect into the
    published rawEstimateData curve, interpolate biasData over the k
    nearest of the 4k surrounding points (Heule et al. 2013 §5 "we use
    k-nearest neighbor interpolation, with k=6").

    Correct-by-construction where the reference is not: the window is
    clamped to the curve (reference: empty negative-start slice ⇒ bias 0,
    HyperLogLog.py:224) and biasData is indexed with absolute positions
    (reference: slice-relative, :229-231)."""
    curve = raw_estimate_data(p)
    idx = bisect(curve, E)
    lo, hi = max(idx - 2 * k, 0), min(idx + 2 * k, len(curve))
    nearest = sorted(((E - curve[i]) ** 2, i) for i in range(lo, hi))[:k]
    biases = bias_data(p)
    return sum(biases[i] for _, i in nearest) / len(nearest)


def estimate(registers: np.ndarray) -> float:
    """Cardinality estimate, full HLL++ staging (HyperLogLog64.cardinality,
    HyperLogLog.py:240-255): linear counting inside its threshold regime,
    else the harmonic-mean raw estimate, bias-corrected while raw ≤ 5m."""
    m = registers.size
    p = int(math.log2(m))
    zeros = int(np.count_nonzero(registers == 0))
    if zeros > 0:
        lc = m * math.log(m / zeros)
        if lc <= threshold(p):
            return lc
    harm = float(np.sum(np.exp2(-registers.astype(np.float64))))
    raw = alpha(m) * m * m / harm
    if raw <= 5 * m:
        raw -= estimate_bias(raw, p)
    return raw


def estimate32(registers: np.ndarray) -> float:
    """32-bit-sketch estimate (reference base class, HyperLogLog.py:133-155):
    linear counting below 5m/2 when empty registers exist, the high-range
    hash-collision correction −2³²·ln(1 − E/2³²) above 2³²/30 (the
    reference's own branch raises NameError on a bare ``log``; fixed), and
    the raw harmonic-mean estimate between the two."""
    m = registers.size
    harm = float(np.sum(np.exp2(-registers.astype(np.float64))))
    e = alpha(m) * m * m / harm
    if e <= 5 * m / 2:
        zeros = int(np.count_nonzero(registers == 0))
        if zeros > 0:
            return m * math.log(m / zeros)
    if e > 2**32 / 30.0:
        return -(2**32) * math.log(1 - e / 2**32)
    return e


def serialize(registers: np.ndarray) -> bytes:
    return registers.tobytes()


def deserialize(blob: bytes) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint8).copy()
