"""Tolerance tests for sketch-based approximate aggregates that cannot
hash-match a cross-engine oracle (different hash/sketch internals): the
approximate result is bounded against its exact counterpart, the
reference's own accuracy-harness pattern (HLL/examples.py:70-83)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hyperloglog_pyspark_spark.sources.catalog import load_table

QS = [0.25, 0.5, 0.75, 0.99]


def test_approx_percentile_within_tolerance(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    row = li.agg(
        F.percentile_approx("l_extendedprice", QS, 10000).alias("approx"),
        F.percentile("l_extendedprice", F.array(*[F.lit(q) for q in QS])).alias("exact"),
    ).first()
    for a, e in zip(row.approx, row.exact):
        assert abs(a - e) / e < 0.05, (a, e)


def test_approx_count_distinct_within_rsd(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx"),
        F.count_distinct("user_id").alias("exact"),
    ).first()
    # 3 sigma of the configured relative standard deviation
    assert abs(row.approx - row.exact) / row.exact < 3 * 0.02


def test_datasketches_hll_roundtrip_matches_direct_estimate(spark, sf_dir):
    """Sketch column → union across groups → estimate equals estimating
    the ungrouped column directly (merge exactness of HLL union)."""
    ev = load_table(spark, sf_dir, "events")
    merged = (
        ev.groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()
        .est
    )
    direct = ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("e")).first().e
    assert merged == direct


def test_sketch_column_survives_parquet_roundtrip(spark, sf_dir, tmp_path):
    """HLL sketches are re-aggregatable data at rest: write per-group
    sketch columns to parquet, read back, union — same estimate as
    sketching the raw column directly (the city→country→world rollup
    pattern without re-reading raw data)."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "sketches")
    ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id", 12).alias("sk")).write.parquet(path)
    merged = (
        spark.read.parquet(path)
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .first()
        .est
    )
    direct = ev.agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("e")).first().e
    assert merged == direct


def test_ddsketch_bucket_contains_true_quantile(spark, sf_dir):
    """DDSketch rank guarantee: for every (group, q) the reported
    [lo, hi) cent range must contain the true q-quantile (lower rank
    definition: smallest value whose rank reaches ceil(q*n)) — the
    relative-error contract the gamma-spaced buckets promise."""
    import math

    from hyperloglog_pyspark_spark.operators.sketch import DD_QS
    from hyperloglog_pyspark_spark.registry import REGISTRY, queries

    queries()
    got = {
        (r.event_type, r.q): (r.est_lo_cents, r.est_hi_cents)
        for r in REGISTRY["sketch_ddsketch_quantiles"].fn(spark, sf_dir).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    ).collect()
    by_type: dict[str, list[int]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.c)
    for etype, cents in by_type.items():
        cents.sort()
        for q in DD_QS:
            true_q = cents[math.ceil(q * len(cents)) - 1]
            lo, hi = got[(etype, q)]
            assert lo <= true_q < hi, (etype, q, true_q, lo, hi)


def test_overlap_matrix_fuzz_matches_set_arithmetic(spark, tmp_path_factory):
    """hll_overlap_matrix on adversarial segment structures the fixed
    corpus can't produce: disjoint segments (pairs absent from the
    output — the inner-join contract), fully-nested segments
    (intersection == the smaller side), and a segment of one user.
    Exact counts must equal Python set arithmetic and every sketch
    estimate must sit inside its 3-sigma acceptance envelope
    (approx_ok TRUE — at these cardinalities lg_k=14 is near-exact)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyperloglog_pyspark_spark.registry import REGISTRY, queries

    queries()
    segs = {
        "click": set(range(0, 40)),
        "view": set(range(20, 60)),      # overlaps click
        "purchase": set(range(100, 130)),  # disjoint from click/view
        "signup": set(range(100, 110)),    # nested inside purchase
        "error": {999},                    # singleton
    }
    rows = [(t, u) for t, us in segs.items() for u in us]
    d = tmp_path_factory.mktemp("overlapfuzz")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array(
                    [1_700_000_000_000_000 + i for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for _, u in rows], pa.int64()),
                "event_type": pa.array([t for t, _ in rows]),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(d / "events.parquet"),
    )
    out = {
        (r.type_a, r.type_b): r
        for r in REGISTRY["hll_overlap_matrix"].fn(spark, str(d)).collect()
    }
    want = {}
    for a in segs:
        for b in segs:
            if a < b and segs[a] & segs[b]:
                want[(a, b)] = (len(segs[a]), len(segs[b]), len(segs[a] & segs[b]))
    assert set(out) == set(want), "pair grid diverged from set arithmetic"
    for k, r in out.items():
        assert (r.n_a, r.n_b, r.n_inter_exact) == want[k]
        assert r.approx_ok, f"sketch estimate left its envelope for {k}"


def test_store_promote_failure_raises_not_silent(tmp_path, monkeypatch):
    """_build_store_atomically publishes a store only once its build has
    finished. The happy path publishes the payload; a rerun is a no-op
    (it never rebuilds, so an append store never re-appends); a
    build_into that raises propagates its error and leaves neither
    ``base`` nor its stage behind, so the next call rebuilds; and a
    publish that fails raises instead of leaving the serve phase to a
    path-not-found."""
    import os

    import pytest

    from hyperloglog_pyspark_spark.session import _build_store_atomically

    def build_into(stage):
        with open(os.path.join(stage, "payload"), "w") as f:
            f.write("data")

    # happy path: builds and publishes exactly the payload
    base = str(tmp_path / "store_ok")
    _build_store_atomically(base, build_into)
    assert os.listdir(base) == ["payload"]
    # idempotent: a second call is a no-op (build_into not invoked)
    _build_store_atomically(base, lambda stage: (_ for _ in ()).throw(
        AssertionError("must not rebuild a published store")
    ))

    # a build that fails midway is never served, and the next call rebuilds
    base2 = str(tmp_path / "store_fail")

    def half_build(stage):
        build_into(stage)
        raise OSError("simulated failure midway through the build")

    with pytest.raises(OSError, match="midway"):
        _build_store_atomically(base2, half_build)
    assert sorted(os.listdir(tmp_path)) == ["store_ok"], "a failed build left files"
    _build_store_atomically(base2, build_into)
    assert os.listdir(base2) == ["payload"]

    # a failed publish raises; nothing is served at base
    base3 = str(tmp_path / "store_norename")

    def deny_rename(src, dst):
        raise OSError("simulated rename failure")

    monkeypatch.setattr(os, "rename", deny_rename)
    with pytest.raises(OSError, match="rename failure"):
        _build_store_atomically(base3, build_into)
    assert not os.path.exists(base3)
