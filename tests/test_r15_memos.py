"""Round-15 trained-model session memos (the "km" and "pq" families of
registry's memo store): the k-means centroid row and the trained PQ
codebook memoize like the connected-components fixpoint. Contract mirrored from
test_connected_components_memo_survives_query_release: re-invocation of
the registered query memo-HITS with bit-identical results, the memoized
frame survives another query's per-query cache release, a FULL
release_caches() empties the memo, and plan-only mode (lazy_caches)
never memoizes (building a plan must not run a checkpoint job)."""

from __future__ import annotations

import os

from hyperloglog_pyspark_spark import registry
from hyperloglog_pyspark_spark.registry import memo_entries, queries

ALL = queries()

SF = "/root/testdata/sf0.001"
SF01 = os.path.join(os.path.dirname(SF), "sf0.01")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_km_centroid_memo_hits_and_releases(spark):
    registry.release_caches()
    assert not memo_entries("km")
    got1 = _rows(ALL["embedding_kmeans_lloyd"](spark, SF))
    assert len(memo_entries("km")) == 1
    # re-invocation memo-hits (entry count stable) with identical rows
    got2 = _rows(ALL["embedding_kmeans_lloyd"](spark, SF))
    assert len(memo_entries("km")) == 1
    assert got2 == got1
    # another query's invocation releases per-query caches; memo survives
    # and the trained row is still servable
    ALL["text_stats"](spark, SF).collect()
    assert len(memo_entries("km")) == 1
    assert _rows(ALL["embedding_kmeans_lloyd"](spark, SF)) == got1
    # FULL release empties the memo; a fresh call retrains to the same rows
    registry.release_caches()
    assert not memo_entries("km")
    assert _rows(ALL["embedding_kmeans_lloyd"](spark, SF)) == got1
    registry.release_caches()


def test_pq_model_memo_hits_and_releases(spark):
    registry.release_caches()
    assert not memo_entries("pq")
    got1 = _rows(ALL["similarity_pq_trained_codebook"](spark, SF))
    n1 = len(memo_entries("pq"))
    assert n1 >= 1
    got2 = _rows(ALL["similarity_pq_trained_codebook"](spark, SF))
    assert len(memo_entries("pq")) == n1  # hit, no new entry
    assert got2 == got1
    # the residual index trains a DIFFERENT codebook (residual subvectors)
    # -> a second entry, never a false hit on the first
    res1 = _rows(ALL["similarity_ivf_pq_residual_topk"](spark, SF))
    n2 = len(memo_entries("pq"))
    assert n2 == n1 + 1
    assert _rows(ALL["similarity_ivf_pq_residual_topk"](spark, SF)) == res1
    assert len(memo_entries("pq")) == n2
    registry.release_caches()
    assert not memo_entries("pq")
    assert _rows(ALL["similarity_pq_trained_codebook"](spark, SF)) == got1
    registry.release_caches()


def test_km_memo_fifo_cap_evicts_oldest(spark, monkeypatch):
    """r16 (from r15 advice): the "km" family carries the store's FIFO
    cap + eviction release like every model family — a long session over
    many distinct ev plans must not accumulate unevictable checkpointed
    frames. With the cap pinned to 1, training over a second sf_dir
    evicts the first entry (family size stays 1) and both queries still
    serve correct, re-derivable rows afterwards."""
    registry.release_caches()
    monkeypatch.setattr(registry, "MEMO_CAP", 1)
    got1 = _rows(ALL["embedding_kmeans_lloyd"](spark, SF))
    assert len(memo_entries("km")) == 1
    key1 = next(iter(memo_entries("km")))
    ALL["embedding_kmeans_lloyd"](spark, SF01).collect()
    assert len(memo_entries("km")) == 1  # capped: oldest evicted
    assert next(iter(memo_entries("km"))) != key1
    # the evicted plan retrains cleanly (its blocks were released, not
    # left dangling) and reproduces the same rows
    assert _rows(ALL["embedding_kmeans_lloyd"](spark, SF)) == got1
    registry.release_caches()


def test_model_eviction_purges_dependent_plans_soak(spark, monkeypatch):
    """Soak over more trained models than the cap: with MEMO_CAP pinned to
    1, k-means and PQ training alternate between two sf_dirs in one
    session. A consumer's second invocation memoizes a plan that embeds
    the trained model's "_memo" checkpoint; training over the other
    sf_dir evicts that model, and the eviction must purge the plan entry
    (its checkpoint has no lineage to recompute from), so the consumer's
    next invocation rebuilds and serves the first run's rows. A full
    release then leaves an empty store and no persisted RDD."""
    registry.release_caches()
    monkeypatch.setattr(registry, "MEMO_CAP", 1)
    jsc = spark.sparkContext._jsc
    for _ in range(2):
        for name in ("embedding_kmeans_lloyd", "similarity_pq_trained_codebook"):
            first = _rows(ALL[name](spark, SF))
            ALL[name](spark, SF)  # model memo hit: a job-free build
            assert any(k[-1] == name for k in memo_entries("plan"))
            ALL[name](spark, SF01).collect()  # evicts the SF model
            assert _rows(ALL[name](spark, SF)) == first
    registry.release_caches()
    assert not registry._MEMO
    assert jsc.getPersistentRDDs().size() == 0, "leaked persisted RDDs"


def test_memos_disabled_in_plan_only_mode(spark):
    registry.release_caches()
    with registry.lazy_caches():
        ALL["embedding_kmeans_lloyd"](spark, SF)
        ALL["similarity_pq_trained_codebook"](spark, SF)
    assert not memo_entries("km") and not memo_entries("pq")
    registry.release_caches()


def test_km_training_round_checkpoints_are_freed(spark):
    """Once the "_memo" copy of the trained centroid row exists, nothing
    can reach the training rounds' checkpoints, so training frees them:
    the only locally checkpointed RDD left is the model's, and a memo-hit
    re-invocation adds none."""
    registry.release_caches()
    jsc = spark.sparkContext._jsc

    def checkpointed():
        rdds = jsc.getPersistentRDDs()
        return {k for k in rdds.keySet().toArray() if rdds.get(k).rdd().isCheckpointed()}

    got = _rows(ALL["embedding_kmeans_lloyd"](spark, SF))
    model = checkpointed()
    assert len(model) == 1
    memo_owned = [v[0] for k, v in memo_entries("cache").items() if k[1] == "_memo"]
    assert memo_owned == [tuple(model)]
    assert _rows(ALL["embedding_kmeans_lloyd"](spark, SF)) == got
    assert checkpointed() == model
    registry.release_caches()


def test_freeing_training_rounds_keeps_the_persist_their_job_filled(spark):
    """A round's checkpoint job can be the first to read a persisted
    input, which fills that persist's cache. Freeing the rounds once the
    "_memo" copy exists must free only the rounds' own blocks: the
    input's cache stays."""
    registry.release_caches()
    jsc = spark.sparkContext._jsc
    base = registry.tracked_persist(spark.range(70).selectExpr("id % 7 AS k", "id"))
    model = registry.memoized_frame(
        "km", (base,), lambda: registry.checkpoint_tracked(base.groupBy("k").count())
    )
    assert sorted(tuple(r) for r in model.collect()) == [(k, 10) for k in range(7)]
    rdds = jsc.getPersistentRDDs()
    ids = rdds.keySet().toArray()
    assert len([i for i in ids if not rdds.get(i).rdd().isCheckpointed()]) == 1
    registry.release_caches()
    assert jsc.getPersistentRDDs().size() == 0, "leaked persisted RDDs"
