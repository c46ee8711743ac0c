"""API-level drop-in parity: the reference's public three-function
surface (HLL/examples.py) re-exposed by hyperloglog_pyspark_spark.api
must reproduce the reference's OWN integration goldens
(tests/HLL/test_examples.py:86-110) on its own fixtures, called with the
reference's calling conventions. The goldens need the reference's
fixture files; the seeded tests at the end run anywhere and pin
parallel == local bit-exactly, the raw-object oracle and the job shape
(one single-stage job for the parallel estimate, none for the oracle)."""

from __future__ import annotations

import json
import math

import pytest

from hyperloglog_pyspark_spark.api import (
    calculate_empirical_accuracy,
    estimate_distinct_elements,
    estimate_distinct_elements_parallel,
)

K = 2**12


def _load(name):
    with open(f"/root/reference/tests/HLL/{name}") as f:
        return json.load(f)


def test_local_estimate_golden():
    # reference golden 645.2579301443818 (test_examples.py:86-87)
    items = _load("data.txt")
    assert estimate_distinct_elements(items, K) == pytest.approx(
        645.2579301443818, abs=1e-12
    )


def test_parallel_estimate_golden(spark):
    # reference golden 2875.28999 over the 15-sequence fixture
    # (test_examples.py:100-102)
    seqs = _load("data2.txt")
    est = estimate_distinct_elements_parallel(seqs, K, spark)
    assert round(est - 2875.28999, 5) == 0


def test_empirical_accuracy_goldens(spark):
    # reference goldens: abs err −7.257930144381817, rel err
    # −0.011376066057024792 on data.txt (test_examples.py:104-110)
    items = _load("data.txt")
    card = estimate_distinct_elements(items, K)
    abs_err = calculate_empirical_accuracy(items, card, spark, relative=False)
    rel_err = calculate_empirical_accuracy(items, card, spark, relative=True)
    assert round(abs_err - (-7.257930144381817), 5) == 0
    assert round(rel_err - (-0.011376066057024792), 5) == 0


def test_empirical_accuracy_counts_raw_items(spark):
    # The reference oracle distincts RAW items (HLL/examples.py:83), a
    # different equality than the estimators' str()-before-sha1: to the
    # oracle [11, "11"] has 2 distinct values and [11, 11.0] has 1.
    assert calculate_empirical_accuracy([11, "11"], 2.0, spark, relative=False) == 0.0
    assert calculate_empirical_accuracy([11, 11.0], 1.0, spark, relative=False) == 0.0


def test_parallel_accepts_session_or_context(spark):
    # the reference passed a SparkContext; both handles must work
    seqs = _load("data2.txt")[:3]
    via_session = estimate_distinct_elements_parallel(seqs, K, spark)
    via_context = estimate_distinct_elements_parallel(
        seqs, K, spark.sparkContext
    )
    assert via_session == via_context


def test_hash_func_kwarg_local():
    # The reference constructor takes a pluggable hash
    # (HyperLogLog.py:58, hash_func=hashlib.sha1); the drop-in surface
    # forwards it. md5 must (a) run, (b) agree with a hand-rolled
    # reference-semantics md5 sketch, (c) differ from the sha1 estimate
    # on the same items (different hash -> different registers).
    import hashlib
    import math

    from hyperloglog_pyspark_spark.functions import hll64

    items = list(range(500))
    est_md5 = estimate_distinct_elements(items, K, hash_func=hashlib.md5)
    est_sha1 = estimate_distinct_elements(items, K)
    assert est_md5 != est_sha1

    # reference semantics by hand: first 16 hex chars of md5(str(x)),
    # key = low p bits, rank over the remaining bits
    p = hll64.p_from_k(K)
    m = 1 << p
    regs = [0] * m
    for x in items:
        h = int(hashlib.md5(str(x).encode()).hexdigest()[:16], 16)
        key = h & (m - 1)
        rest = h >> p
        regs[key] = max(regs[key], 64 - p - rest.bit_length() + 1)
    zeros = regs.count(0)
    lc = m * math.log(m / zeros)
    assert est_md5 == pytest.approx(lc, abs=1e-9)


def test_hash_func_kwarg_parallel(spark):
    # local and distributed sketches are the same monoid: with md5
    # threaded through the worker partials, the parallel estimate of a
    # flattened corpus equals the local estimate of the same elements.
    import hashlib

    items = [f"u{i}" for i in range(300)]
    seqs = [items[:150], items[100:]]
    est_par = estimate_distinct_elements_parallel(
        seqs, K, spark, hash_func=hashlib.md5
    )
    est_loc = estimate_distinct_elements(items, K, hash_func=hashlib.md5)
    assert est_par == pytest.approx(est_loc, abs=1e-9)


def test_class_dropin_golden_and_surface():
    # the CLASS drop-in (HyperLogLog.py:179) must reproduce the same
    # golden as the function path on the reference's own fixture, and
    # expose the reference's public attributes
    from hyperloglog_pyspark_spark.api import HyperLogLog64

    items = _load("data.txt")
    h = HyperLogLog64(K)
    h.extend(items)
    assert h.cardinality == pytest.approx(645.2579301443818, abs=1e-12)
    assert h.k == K and h.m == K and h.effective_k == K and h.p == 12
    assert h.error == pytest.approx(1.04 / K**0.5)
    assert len(h.hmap) == K and sum(1 for r in h.hmap if r > 0) > 0
    # append == one-element extend (HyperLogLog.py:121-130 semantics)
    h2 = HyperLogLog64(K)
    for x in items:
        h2.append(x)
    assert h2.hmap == h.hmap


def test_class_merge_and_add_operator():
    # h1 + h2 must equal the single-pass sketch (register max-merge,
    # HyperLogLog.py:157-179), and the reduce(+) pattern the reference
    # flagship uses must work on these instances
    from functools import reduce

    from hyperloglog_pyspark_spark.api import HyperLogLog64

    items = [f"u{i}" for i in range(400)]
    whole = HyperLogLog64(K)
    whole.extend(items)
    parts = []
    for lo in range(0, 400, 100):
        h = HyperLogLog64(K)
        h.extend(items[lo : lo + 100])
        parts.append(h)
    merged = reduce(lambda a, b: a + b, parts)
    assert merged.hmap == whole.hmap
    assert merged.cardinality == whole.cardinality


def test_class_merge_p_compat_fixes_reference_k_equality():
    # k=250 and k=256 share p=8 (identical register layout): the
    # reference refuses to merge them (HyperLogLog.py:165-167); the
    # engine's p-compat rule merges them exactly. Genuinely different
    # precisions still raise.
    import pytest as _pt

    from hyperloglog_pyspark_spark.api import HyperLogLog64

    a, b = HyperLogLog64(250), HyperLogLog64(256)
    a.extend(["x", "y"])
    b.extend(["y", "z"])
    c = a + b
    one = HyperLogLog64(256)
    one.extend(["x", "y", "z"])
    assert c.hmap == one.hmap
    with _pt.raises(ValueError):
        HyperLogLog64(2**8) + HyperLogLog64(2**9)


def test_class_32bit_variant_and_hash_func():
    # the base 32-bit class (8-hex-char prefix, high-range branch that
    # the reference NameErrors on) and the constructor's pluggable hash
    import hashlib

    from hyperloglog_pyspark_spark.api import (
        HyperLogLog,
        estimate_distinct_elements,
    )
    from hyperloglog_pyspark_spark.functions import hll64

    h = HyperLogLog(2**8)
    h.extend(["abc", "def", "ghi"] * 5)
    regs = hll64.empty_registers(8)
    hll64.update_registers(regs, ["abc", "def", "ghi"], 8, hash_bits=32)
    assert h.hmap == [int(r) for r in regs]
    assert h.cardinality == hll64.estimate32(regs)
    # md5 class path == md5 function path (same registers, same staging)
    items = list(range(300))
    from hyperloglog_pyspark_spark.api import HyperLogLog64

    hm = HyperLogLog64(K, hash_func=hashlib.md5)
    hm.extend(items)
    assert hm.cardinality == pytest.approx(
        estimate_distinct_elements(items, K, hash_func=hashlib.md5), abs=1e-9
    )


# --- fixture-free parity: the parallel form is the local sketch, exactly ---

def _mixed_stream(seed: int, n: int = 4000) -> list:
    """Seeded int/float/str items with repeats, the empty string, unicode
    and None: about 2k distinct values under str(), enough to put k=65536 in
    linear counting, k=1024 in the bias-corrected and k=256 in the raw
    regime."""
    import random

    rng = random.Random(seed)
    pool = ["", "ü", "日本語", "𝄞x", None, "None", 11, "11", 11.0]
    for _ in range(2500):
        v = rng.randrange(10**6)
        pool.append(rng.choice((v, v + 0.5, f"s{v}", f"ø{v}")))
    return [rng.choice(pool) for _ in range(n)]


def _regime(items, k, hash_func) -> str:
    from hyperloglog_pyspark_spark.functions import hll64

    p = hll64.p_from_k(k)
    regs = hll64.update_registers(
        hll64.empty_registers(p), [str(x) for x in items], p,
        hash_func=hash_func,
    )
    m = regs.size
    zeros = int((regs == 0).sum())
    if zeros and m * math.log(m / zeros) <= hll64.LC_THRESHOLD[p - 4]:
        return "linear"
    raw = hll64.alpha(m) * m * m / float((2.0 ** -regs.astype(float)).sum())
    return "bias-corrected" if raw <= 5 * m else "raw"


@pytest.mark.parametrize("hash_name", ["sha1", "md5"])
@pytest.mark.parametrize(
    "k,regime", [(65536, "linear"), (1024, "bias-corrected"), (256, "raw")]
)
def test_parallel_equals_local_exactly(spark, k, regime, hash_name):
    import hashlib

    hf = getattr(hashlib, hash_name)
    items = _mixed_stream(seed=k)
    assert _regime(items, k, hf) == regime
    local = estimate_distinct_elements(items, k, hash_func=hf)
    # two splits of the same items: one sequence, and uneven sequences
    # with empty ones in between
    cuts = [0, 1, 1, 700, 2222, 2223, 3999, len(items)]
    splits = [
        [items],
        [items[a:b] for a, b in zip(cuts[:-1], cuts[1:])] + [[]],
    ]
    for seqs in splits:
        assert estimate_distinct_elements_parallel(
            seqs, k, spark, hash_func=hf
        ) == local


def test_parallel_empty_input_is_zero(spark):
    assert estimate_distinct_elements([], K) == 0.0
    assert estimate_distinct_elements_parallel([], K, spark) == 0.0
    assert estimate_distinct_elements_parallel([[]], K, spark) == 0.0


@pytest.mark.parametrize(
    "items", [[11, "11"], [11, 11.0], [1, True], [None, None, "None"]]
)
def test_oracle_is_python_set_cardinality(spark, items):
    assert calculate_empirical_accuracy(
        items, 0.0, spark, relative=False
    ) == len(set(items))


def test_each_api_call_is_one_single_stage_job(spark):
    # the parallel estimate runs one job with one stage: no shuffle, no
    # exchange between a partial and a merge stage; the exact oracle
    # counts the driver-held items and runs no job at all
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    items = _mixed_stream(seed=3)
    seqs = [items[:1000], items[1000:]]
    calls = {
        "parallel": (lambda: estimate_distinct_elements_parallel(seqs, K, spark), 1),
        "accuracy": (lambda: calculate_empirical_accuracy(items, 1.0, spark), 0),
    }
    for name, (call, n_jobs) in calls.items():
        group = f"api-shape-{name}"
        sc.setJobGroup(group, f"job shape of the {name} call")
        try:
            call()
        finally:
            sc._jsc.clearJobGroup()
        bus.waitUntilEmpty(10_000)
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == n_jobs, (name, jobs)
        for job in jobs:
            assert len(tracker.getJobInfo(job).stageIds) == 1, name
