"""Round-16 registered-query plan memo (the "plan" family of registry's
memo store): a PURE builder's second invocation reuses the rep-1
DataFrame handle (plan construction only — every job still executes per
invocation); a builder that runs jobs at build time (eager cache counts,
sink writes, training checkpoints) is never memoized, also when it runs
under the caller's job group; a query's plan entry outlives a switch to
another query, and evicting its owner under the owner cap drops it;
plan-only mode (lazy_caches) never memoizes."""

from __future__ import annotations

from hyperloglog_pyspark_spark import registry
from hyperloglog_pyspark_spark.registry import memo_entries, queries

ALL = queries()

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _planned(name):
    return any(k[-1] == name for k in memo_entries("plan"))


def test_pure_builder_memoizes_and_results_stable(spark):
    registry.release_caches()
    assert not memo_entries("plan")
    # The first-ever read of a table runs a parquet footer job, so the
    # FIRST build is (correctly) not memoized; the second build runs
    # zero jobs and is; the third reuses its handle.
    a = ALL["scan_project_filter"](spark, SF)
    got1 = _rows(a)
    b = ALL["scan_project_filter"](spark, SF)
    c = ALL["scan_project_filter"](spark, SF)
    assert c is b  # same plan handle back — construction reused
    assert _rows(c) == got1  # execution repeats, bit-identical
    registry.release_caches()
    assert not memo_entries("plan")


def test_job_running_builder_is_never_memoized(spark):
    registry.release_caches()
    # dedup_simhash eagerly count()s its fingerprint cache inside fn
    # (EAGER_CACHES) — a job runs during build, so no plan entry may
    # exist for it and re-invocation must rebuild.
    a = ALL["dedup_simhash"](spark, SF)
    assert not _planned("dedup_simhash")
    b = ALL["dedup_simhash"](spark, SF)
    assert b is not a
    assert _rows(b) == _rows(a)
    registry.release_caches()


def test_job_running_builder_under_job_group_is_never_memoized(spark):
    # the honesty gate counts jobs in the caller's job group: a builder
    # whose build-time count() runs inside a group is still seen
    registry.release_caches()
    sc = spark.sparkContext
    sc.setJobGroup("memo-gate", "builder under a job group")
    try:
        a = ALL["dedup_simhash"](spark, SF)
        b = ALL["dedup_simhash"](spark, SF)
    finally:
        sc._jsc.clearJobGroup()
    assert not _planned("dedup_simhash")
    assert b is not a
    registry.release_caches()


def test_job_probe_matches_status_tracker(spark):
    # the gate's probe takes the max on the JVM; it must equal the max
    # of the tracker's job ids for the caller's group: the null group,
    # then a job group before and after it runs two jobs
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()

    def check(group):
        bus.waitUntilEmpty(10_000)
        ids = sc.statusTracker().getJobIdsForGroup(group)
        assert registry._job_probe(spark)() == max(ids, default=-1)
        return ids

    def two_jobs():
        spark.range(3).collect()
        spark.range(3).collect()

    two_jobs()
    assert len(check(None)) >= 2
    sc.setJobGroup("probe-check", "job probe vs status tracker")
    try:
        assert not check("probe-check")
        two_jobs()
        assert len(check("probe-check")) == 2
    finally:
        sc._jsc.clearJobGroup()


def test_release_drops_owned_plan_entries(spark, monkeypatch):
    registry.release_caches()
    # text_tfidf_topk persists interior frames; its (job-free) second
    # build memoizes. Under the owner cap its caches and plan entry
    # outlive a switch to another query, so the next invocation hits.
    ALL["text_tfidf_topk"](spark, SF).collect()
    a = ALL["text_tfidf_topk"](spark, SF)
    assert _planned("text_tfidf_topk")
    ALL["text_stats"](spark, SF).collect()
    assert ALL["text_tfidf_topk"](spark, SF) is a
    # With a cap of one owner, the next plan-memo miss evicts it, which
    # must drop its plan entry too (a memoized plan over unpersisted
    # frames would silently recompute them per scan site).
    monkeypatch.setattr(registry, "CACHE_OWNERS", 1)
    ALL["scan_project_filter"](spark, SF)
    assert not _planned("text_tfidf_topk")
    assert not [k for k in memo_entries("cache") if k[1] == "text_tfidf_topk"]
    assert ALL["text_tfidf_topk"](spark, SF) is not a
    registry.release_caches()


def test_plan_only_mode_never_memoizes(spark):
    registry.release_caches()
    with registry.lazy_caches():
        ALL["scan_project_filter"](spark, SF)
    assert not memo_entries("plan")
    registry.release_caches()
