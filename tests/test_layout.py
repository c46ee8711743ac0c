"""Physical-layout assertions: the plans the engine claims are the plans
Catalyst actually produces (pushdown, broadcast, bucket-join co-location)."""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from hyperloglog_pyspark_spark.sources.catalog import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def conf(spark, **kv):
    old = {k: spark.conf.get(k.replace("_", "."), None) for k in kv}
    try:
        for k, v in kv.items():
            spark.conf.set(k.replace("_", "."), v)
        yield
    finally:
        for k, v in old.items():
            key = k.replace("_", ".")
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def test_filters_reach_parquet_scan(spark, sf_dir):
    queries()
    plan = plan_of(REGISTRY["scan_project_filter"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def test_dimension_join_broadcasts(spark, sf_dir):
    queries()
    plan = plan_of(REGISTRY["join_broadcast_dim"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_needs_no_shuffle(spark, sf_dir):
    """With broadcast disabled, the bucketed-table join must sort-merge
    (or shuffled-hash) WITHOUT an exchange on either side — bucket layout
    replaces the shuffle."""
    queries()
    with conf(
        spark,
        **{
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        df = REGISTRY["join_bucketed_colocated"].fn(spark, sf_dir)
        plan = plan_of(df)
    assert "SelectedBucketsCount" in plan
    join_kind = "SortMergeJoin" if "SortMergeJoin" in plan else "ShuffledHashJoin"
    assert join_kind in plan
    # the only exchange allowed is the one AFTER the join, for the groupBy
    pre_join = plan.split(join_kind)[-1]  # children are printed after the node
    assert "Exchange hashpartitioning" not in pre_join, pre_join


def test_partitioned_sink_prunes_on_read(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "pruned")
    ev.select("event_id", "ts", "event_type").write.partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = plan_of(back.groupBy().count())
    assert "PartitionFilters" in plan
    assert "click" in plan


def test_runtime_bloom_filter_prunes_semi_join(spark, sf_dir):
    """Spark's runtime bloom-filter injection: with a selective dimension
    side, the fact scan gets a might_contain predicate — rows that cannot
    join are dropped before the shuffle (the 100 TB join-pruning story).
    Result must equal the unpruned join (blooms only prune, never drop
    true matches)."""
    from hyperloglog_pyspark_spark.sources.catalog import load_table

    customer = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders")

    def semi_count():
        return (
            orders.join(customer, orders.o_custkey == customer.c_custkey, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    baseline = {r.o_orderpriority: r.n for r in semi_count().collect()}
    with conf(
        spark,
        **{
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    ):
        df = semi_count()
        plan = plan_of(df)
        assert "might_contain" in plan, "runtime bloom filter not injected"
        pruned = {r.o_orderpriority: r.n for r in df.collect()}
    assert pruned == baseline


# Shuffle budget per headline query: exchanges are the scale-limiting
# resource; a regression that adds one is a performance bug even when
# results stay correct. Counts include broadcast exchanges.
SHUFFLE_BUDGET = {
    "scan_project_filter": 0,
    # +1 in r16: spread_scan fans the single-row-group lineitem scan to
    # the cores before the decimal partial aggregate (was ONE task)
    "agg_pricing_summary": 2,
    "join_broadcast_dim": 4,       # 3 broadcast exchanges + 1 final agg
    "join_shuffle_agg": 2,
    "approx_distinct_users_daily": 2,  # exact+approx distinct in one agg
    "window_topk_per_group": 1,
    "window_tumbling": 2,          # windowed agg + exact distinct expand
    "tpch_q5_local_supplier_volume": 6,  # 5 broadcast dims + 1 agg
    "dedup_exact": 2,
    "text_stats": 0,
    "tpch_q6_forecast_revenue": 1,
    "tpch_q7_volume_shipping": 6,   # 5 broadcast dims + 1 agg
    "tpch_q8_market_share": 8,      # 7 broadcast dims (nation twice) + 1 agg
    "tpch_q10_returned_items": 4,   # 3 broadcast dims + TakeOrdered agg
    "tpch_q14_promo_revenue": 2,
    "tpch_q18_large_orders": 5,
    "window_distribution": 1,
    "agg_argminmax": 1,
    "sample_stratified": 0,
    "text_pii_redact": 1,  # spread_scan fan-out (single-row-group input)
    "json_variant": 1,
    "embedding_quantize_int8": 1,
    "pack_sequences_greedy": 1,       # one per-source window+agg
    # histogram-offset + within-tier rank (r6): tier agg, tier running sum
    # (tiny), tier broadcast, per-tier window, shard agg, balance scalar —
    # replaces the single-task corpus-scale global window the old plan had
    "shard_manifest_balanced": 6,
    "curriculum_quality_bins": 1,     # one per-lang window+agg
    "hll_set_intersection": 2,        # custkey dedup + global sketch agg
    "cogroup_asof_attribution": 2,    # one exchange per cogroup side
    "approx_quantile_check": 3,       # agg + broadcast-back rank pass
    "zorder_morton_buckets": 1,       # one bucket aggregation
    "sessionize_gap_ids": 1,          # one user_id shuffle serves all windows
    "sessionize_salted_stitch": 2,    # (user,slice) event shuffle + session-scale user shuffle
    "scd2_status_history": 1,         # same single-shuffle window chain
    "ivm_incremental_agg": 3,         # base partial + delta partial + merge
    "event_transition_matrix": 3,     # lag window + pair agg + matrix window
    # Round-3 TPC-H additions (persisted queries — q2/q11/bitmap — are
    # excluded: InMemoryRelation reprints its child exchanges at every
    # scan site in the rendered plan text, so a cached subtree scanned
    # twice would double-count its exchanges and fail spuriously).
    "tpch_q4_priority_count": 2,      # semi-join + final agg
    "tpch_q12_priority_lines": 2,     # orderkey join + 2-row agg
    "tpch_q13_custdist": 3,           # outer join + custkey agg + histogram
    "tpch_q15_top_supplier": 5,       # revenue agg + max broadcast-back
    "tpch_q17_small_quantity": 4,     # per-part avg + brand broadcast + agg
    "tpch_q19_disjunctive_revenue": 2,  # broadcast join + global agg
    "tpch_q21_waiting_supplier": 6,   # one orderkey shuffle + dims + agg
    "tpch_q22_idle_balances": 4,      # avg broadcast + anti join + agg
    "tpch_q9_product_profit": 9,      # orderkey shuffle + 4 broadcast dims
    "tpch_q16_supplier_cnt": 7,       # partsupp derive + anti + distinct agg
    "tpch_q20_excess_stock": 9,       # shipment agg + semi chains
    # Round-3 sketch additions
    # cms_frequency persists its per-key rollup (cells and probes both
    # derive from it) — excluded for the InMemoryRelation text-inflation
    # reason above (runtime: ONE fact scan + cell/probe aggs).
    # key distinct (persisted, feeds bits + exact) + bit distinct +
    # probe + verdict + matrix; the persisted key frame's
    # InMemoryRelation reprints its build exchange at both scan sites
    # (string count 9 ≈ runtime 8 minus the dropped second orders scan)
    "bloom_membership": 9,
    "theta_set_algebra": 2,           # custkey dedup + global sketch agg
    "hll_accuracy_report": 6,         # one scan, three-knob agg, 3-way union
    # Round-4 additions (persisted queries — cooccurrence/triangles — are
    # excluded for the same InMemoryRelation text-inflation reason).
    "ivm_delta_join": 6,              # 2×(dims + partial agg) + state merge
    "join_salted_skew": 4,            # dim agg + 2 salted-key sides + final agg
    # text_pmi_collocations persists its unigram/pair count tables —
    # excluded for the InMemoryRelation text-inflation reason above
    # (runtime: 2 corpus scans, totals summed from the count tables).
    "text_lang_confusion": 3,         # matrix agg + row-share window
    "funnel_conversion": 2,           # one user_id shuffle + final count agg
    "sample_weighted_reservoir": 2,   # TakeOrdered heaps + lang agg
    "pivot_multi_value": 2,           # pre-agg + pivot agg (two-pass pivot)
    "sql_scalar_udf": 1,              # UDF inlined -> one partial+final agg
    "sql_parameterized": 1,           # bound literals -> one agg, full pushdown
    # 2 side aggs + broadcast + final agg; the persisted incidents
    # frame's InMemoryRelation reprints its build exchanges at both
    # scan sites (string count 6 ≈ runtime 4, PLANS_FULL row)
    "join_interval_overlap": 6,
    # timeseries_interpolate_linear / timeseries_drift_cusum /
    # hll_sliding_distinct / dedup_containment persist their
    # series/postings frames — excluded like the persisted queries above.
    # Quality-audit + chunking additions (text_tfidf_topk and
    # dedup_incremental_probe persist tf/shingle frames — excluded).
    "chunk_documents_overlap": 0,     # pure map stage: sequence+explode+substr
    "quality_k_anonymity": 1,         # one QI groupBy
    "agg_histogram_equiwidth": 1,     # one bin groupBy
    "quality_constraint_audit": 4,    # one single-row agg per audited table
    "snapshot_diff_cdc": 3,           # two join-side shuffles + change agg
    # one conditional-agg pass per CHILD table (lineitem scanned once for
    # its 3 FKs): parent distincts + join-side exchanges + per-child agg
    "quality_referential_orphans": 16,
    # quality_freshness_watermark persists its per-type aggregate (gmax
    # derives from it, not a second fact scan) — excluded for the
    # InMemoryRelation text-inflation reason above (runtime: 2 fact scans).
    # +1 in r15: the events scan is spread to cores before the 900-bound
    # range join (single-row-group input planned the whole BNL join as
    # ONE task); the repartition exchange buys a 32-way bucket pass
    "sketch_ddsketch_quantiles": 5,   # spread + bucket agg + windows + final agg
    "experiment_ab_ttest": 1,         # ONE conditional moment agg, no self-join
    "timeseries_seasonal_index": 3,   # daily agg + dow agg + 7-row window
    "temporal_point_in_time": 4,      # dim window + co-keyed interval join + agg
    "quality_psi_drift": 5,           # bin agg + totals broadcast + 10-row window
    "join_explosion_audit": 7,        # 2 key aggs + key join + actual-join probe
    "attribution_multi_touch": 4,     # user-keyed join + pid windows + channel agg
    "funnel_time_to_convert": 4,      # 2 user min-aggs + join + percentile agg
    "layout_skipping_report": 7,      # bounds broadcast + 2 file-stat aggs + union agg
    "embedding_centroid_confusion": 7,  # centroid agg + broadcast assign + argmin window
    "scalar_try_errors": 1,           # one conditional-agg scan
    "sample_bootstrap_ci": 4,         # replicate agg + orig agg + CI agg
    "event_pattern_cep": 2,           # one user window pass + scalar report
    "quality_schema_drift": 2,        # one two-period conditional-agg scan
    "join_asof_nearest": 2,           # user-keyed left join + argmin agg (r7 rewrite dropped the join-back)
    "quality_key_discovery": 2,       # ONE scan: all candidates in one wide agg
    "sample_neyman_allocation": 4,    # moment agg + weight-total broadcast
    # Curation additions (unigram-logprob / dup-shingle / semdedup /
    # leakage / canonical-pick persist their token/element/pair frames —
    # excluded for the InMemoryRelation text-inflation reason above).
    "layout_range_sort_buckets": 6,   # sample window + count + 2 broadcasts + list agg + final agg
    # histogram build + cum window on grp + threshold broadcast + final
    # agg; the persisted histogram's InMemoryRelation reprints its build
    # exchange at both scan sites (string count 5 ≈ runtime 4)
    "quality_winsorize_clamp": 5,
}


def test_shuffle_budgets_hold(spark, sf_dir):
    queries()
    over = {}
    for name, budget in SHUFFLE_BUDGET.items():
        plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
        n = plan.count("Exchange") - plan.count("ReusedExchange")
        if n > budget:
            over[name] = (n, budget)
    assert not over, f"shuffle budget exceeded: {over}"


def test_small_file_compaction_preserves_rows(spark, sf_dir, tmp_path):
    """Maintenance op: rewrite a many-small-files dataset into few
    right-sized files (the periodic compaction every file-based 100 TB
    table needs to keep scan task counts sane)."""
    import glob

    ev = load_table(spark, sf_dir, "events")
    small = str(tmp_path / "small")
    ev.repartition(64).write.parquet(small)
    assert len(glob.glob(f"{small}/part-*.parquet")) == 64
    compacted = str(tmp_path / "compacted")
    spark.read.parquet(small).coalesce(4).write.parquet(compacted)
    files = glob.glob(f"{compacted}/part-*.parquet")
    assert len(files) == 4
    assert spark.read.parquet(compacted).count() == ev.count()


def test_q6_is_single_pass_pushdown_scan(spark, sf_dir):
    """TPC-H Q6 must stay a one-exchange scan+agg with all three predicates
    pushed to parquet — the canonical 100 TB scan shape."""
    queries()
    plan = plan_of(REGISTRY["tpch_q6_forecast_revenue"].fn(spark, sf_dir))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    assert "Join" not in plan


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The correlated LATERAL LIMIT subquery must decorrelate into a
    window-rank plan, never a per-row nested-loop re-scan."""
    queries()
    plan = plan_of(REGISTRY["lateral_topk"].fn(spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_systematic_sampler_has_no_global_window(spark, sf_dir):
    """The weighted systematic draw must run as the distributed two-pass
    prefix sum: every Window node partitions by the mass bucket, and no
    single-partition global sort of the fact table survives in the plan.
    (Empty partition spec prints as `Window [...], [], [ord]` — zero of
    those allowed; the tiny offset fold is a broadcast triangular join.)"""
    import re

    queries()
    plan = plan_of(REGISTRY["sample_weighted_systematic"].fn(spark, sf_dir))
    assert "Window" in plan  # the per-bucket running sum is still a window
    assert not re.findall(r"Window \[[^\]]*\], \[\]", plan), (
        "global (empty-partition) window found in systematic sampler plan"
    )
    assert "BroadcastHashJoin" in plan  # offsets broadcast back, never shuffled


def test_window_distribution_shares_one_window_operator(spark, sf_dir):
    """Five window functions over the same spec must collapse into a single
    Window operator (one sort, one pass) plus the unbounded-frame variant."""
    queries()
    plan = plan_of(REGISTRY["window_distribution"].fn(spark, sf_dir))
    # two specs (default frame + unbounded frame) -> at most 2 Window nodes
    assert plan.count("Window [") <= 2
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 1


def test_join_strategy_hints_are_respected(spark, sf_dir):
    """df.hint('merge') / df.hint('shuffle_hash') must override the
    planner's default choice — the manual escape hatch when statistics
    mislead at scale."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    with conf(spark, spark_sql_autoBroadcastJoinThreshold="-1"):
        merged = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        assert "SortMergeJoin" in plan_of(merged)
        hashed = li.join(orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey)
        p = plan_of(hashed)
        assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p


def test_aqe_coalesces_small_shuffle_partitions(spark, sf_dir):
    """With AQE on, a shuffle whose output is tiny must coalesce its read
    partitions at runtime (AQEShuffleRead) instead of launching one task
    per static shuffle partition — the local proof of the runtime-replan
    behavior that matters at 1000 executors."""
    with conf(
        spark,
        spark_sql_adaptive_enabled="true",
        spark_sql_adaptive_coalescePartitions_enabled="true",
        spark_sql_shuffle_partitions="64",
    ):
        df = (
            load_table(spark, sf_dir, "orders")
            .groupBy("o_orderpriority")
            .count()
        )
        df.collect()  # AQE finalizes the plan only after execution
        plan = plan_of(df)
    assert "AQEShuffleRead coalesced" in plan


def _op_shape(plan: str) -> list[str]:
    """Physical operator sequence, stripped of ids/exprs — plan 'shape'."""
    import re

    ops = []
    for line in plan.splitlines():
        m = re.match(r"^[\s:+*\-()0-9]*([A-Za-z]+)", line)
        if m and m.group(1) not in ("Arguments", "Input", "Output", "ReadSchema"):
            ops.append(m.group(1))
    return ops


def test_sql_entry_path_plans_match_dataframe_forms(spark, sf_dir):
    """The spark.sql text form of Q3/Q1 must produce the same physical
    operator sequence as the DataFrame form — the SQL surface is the same
    engine, not a second slower path."""
    queries()
    for sql_name, df_name in [
        ("sql_q3", "tpch_q3_shipping_priority"),
        ("sql_pricing", "agg_pricing_summary"),
    ]:
        sql_plan = plan_of(REGISTRY[sql_name].fn(spark, sf_dir))
        df_plan = plan_of(REGISTRY[df_name].fn(spark, sf_dir))
        assert _op_shape(sql_plan) == _op_shape(df_plan), (
            f"{sql_name} plan shape diverged from {df_name}:\n"
            f"SQL: {_op_shape(sql_plan)}\nDF:  {_op_shape(df_plan)}"
        )


# Python-boundary discipline: row-at-a-time Python UDFs (BatchEvalPython)
# are banned outright — ~10-100x slower than Arrow-batched forms and the
# classic 100 TB hot-path mistake. Arrow-batched Python operators are
# allowed ONLY where the semantics require Python at all, each one a
# documented, deliberate boundary.
ARROW_PYTHON_ALLOWED = {
    "hll64_parity",              # bit-parity sha1 HLL64: JVM registers, one Arrow assemble+estimate
    "multimodal_meta",           # mapInPandas payload decode plumbing
    "multimodal_frame_sample",   # mapInPandas frame sampling
    "multimodal_decode",         # mapInPandas BMP/WAV synth + header parse
    "multimodal_decode_png",     # mapInPandas PNG synth + zlib/CRC decode
    "multimodal_decode_gif",     # mapInPandas GIF synth + LZW entropy decode
    "multimodal_dedup_perceptual",  # mapInPandas BMP pixel decode + dHash
    "multimodal_dedup_audio_fp",    # mapInPandas PCM decode + energy-delta hash
    "multimodal_dedup_canonical",   # mapInPandas both modal fingerprint builds
    "source_binaryfile_media",   # mapInPandas header decode over binaryFile rows
    "heavy_hitters_mg",          # Misra-Gries partial summaries (mapInPandas)
    "cogroup_asof_attribution",  # cogrouped per-key as-of alignment
    "udtf_bigrams",              # Python UDTF surface
}
_PY_ARROW_NODES = [
    "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "PythonMapInArrow", "AggregateInPandas",
]


def test_no_row_at_a_time_python_and_arrow_only_where_declared(spark, sf_dir):
    from hyperloglog_pyspark_spark.registry import lazy_caches

    queries()
    rowwise, undeclared = [], []
    with lazy_caches():
        plans = {name: plan_of(q.fn(spark, sf_dir)) for name, q in REGISTRY.items()}
    for name, plan in plans.items():
        if "BatchEvalPythonUDTF" in plan:
            # UDTF eval is its own (batched) node, distinct from scalar
            # BatchEvalPython; allowed only for the declared UDTF query.
            if name not in ARROW_PYTHON_ALLOWED:
                undeclared.append((name, "BatchEvalPythonUDTF"))
            plan = plan.replace("BatchEvalPythonUDTF", "")
        if "BatchEvalPython" in plan:
            rowwise.append(name)
        hits = [m for m in _PY_ARROW_NODES if m in plan]
        if hits and name not in ARROW_PYTHON_ALLOWED:
            undeclared.append((name, ",".join(hits)))
    assert not rowwise, f"row-at-a-time Python UDF in hot path: {rowwise}"
    assert not undeclared, f"undeclared Python boundary: {undeclared}"


def test_registry_plans_no_cartesian_no_unbounded_global_window(spark, sf_dir):
    """Full-registry plan guard (VERDICT r5 #2/#7, r6 #3): EVERY
    registered query — not just the bench headline — must plan without a
    CartesianProduct, without an empty-partition Window outside the
    documented bounded-frame allowlist (plan_audit.GLOBAL_WINDOW_ALLOWED),
    and without a fact table scanned ≥2 times outside caches unless the
    shape is structurally two-sided and allowlisted with a rationale
    (plan_audit.MULTI_FACT_SCAN_ALLOWED). Walks the live JVM plan tree,
    same counting as PLANS_FULL.md. Fixed-iteration queries audit
    UNROLLED here (checkpoint_rounds is a plan-only no-op), so their
    interior stays visible to all three guards."""
    from plan_audit import (
        GLOBAL_WINDOW_ALLOWED,
        MULTI_FACT_SCAN_ALLOWED,
        WINDOW_NULLFIRST_ALLOWED,
        audit_plan,
    )

    from hyperloglog_pyspark_spark.registry import lazy_caches

    nullfree = _nullfree_base_columns()
    queries()
    carts, gwins, scans, nullords = [], [], [], []
    with lazy_caches():
        for name, q in REGISTRY.items():
            facts = audit_plan(q.fn(spark, sf_dir))
            if facts["cartesian"]:
                carts.append(name)
            if facts["global_window"] and name not in GLOBAL_WINDOW_ALLOWED:
                gwins.append(name)
            allowed = MULTI_FACT_SCAN_ALLOWED.get(name)
            for table, n in facts["fact_scans"].items():
                if n < 2:
                    continue
                if allowed is None or allowed[0] != table or n > allowed[1]:
                    scans.append((name, table, n))
            derived = set(facts["nullfirst_orders"]) - nullfree
            if derived:
                ok_set = WINDOW_NULLFIRST_ALLOWED.get(name, (frozenset(),))[0]
                if not derived <= ok_set:
                    nullords.append((name, sorted(derived - ok_set)))
    assert not carts, f"CartesianProduct planned by: {carts}"
    assert not gwins, f"unallowlisted global window planned by: {gwins}"
    assert not scans, (
        "unallowlisted multi-fact-scan plans (add a rationale to "
        f"plan_audit.MULTI_FACT_SCAN_ALLOWED or collapse the scan): {scans}"
    )
    assert not nullords, (
        "nullable window sort key ordered NULLS FIRST (Spark ASC default; "
        "DuckDB defaults NULLS LAST, so a null value here silently "
        "reorders frames on one engine only). Prove the expression "
        "non-null in plan_audit.WINDOW_NULLFIRST_ALLOWED or use explicit "
        f"matching null ordering on BOTH engines: {nullords}"
    )


def _nullfree_base_columns() -> set[str]:
    """Column names provably null-free in the testdata — zero NULLs in
    EVERY table of both the driver-gate (sf0.01) and sweep (sf0.1)
    parquet, checked live. A window ordering one of these by plain
    name cannot hit the Spark-NULLS-FIRST / DuckDB-NULLS-LAST default
    divergence at oracle-comparison scale. Limitation (documented): a
    DERIVED nullable expression deliberately aliased to a base-column
    name would auto-pass — the allowlist review habit is the defense."""
    import glob

    import duckdb

    con = duckdb.connect()
    everseen: set[str] = set()
    hasnulls: set[str] = set()
    for sfd in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        for p in sorted(glob.glob(sfd + "/*.parquet")):
            cols = [
                r[0]
                for r in con.execute(f"DESCRIBE SELECT * FROM '{p}'").fetchall()
            ]
            checks = ", ".join(
                f'SUM(CASE WHEN "{c}" IS NULL THEN 1 ELSE 0 END)' for c in cols
            )
            counts = con.execute(f"SELECT {checks} FROM '{p}'").fetchone()
            everseen.update(cols)
            hasnulls.update(c for c, n in zip(cols, counts) if n)
    return everseen - hasnulls


def test_embedding_family_stays_array_native(spark, sf_dir):
    """The r7 array-native rewrite's execution-truth guard: with caches
    eager (the session default), the embedding family's runtime plans
    must keep model-sized exchange counts — the pre-rewrite exploded
    plans sat at 7/7/31 — and assignment must ride the broadcast
    one-row centroid model (a BroadcastNestedLoopJoin), never a corpus
    shuffle. Counts come from plan_audit's JVM tree walk (InMemoryRelation
    text inflation doesn't apply; the walk stops at InMemoryTableScan).
    semdedup's assignment lives inside its persisted ae build, so its
    post-cache plan shows the pair join only (no BNLJ node)."""
    from plan_audit import audit_plan, walk_plan

    queries()
    budgets = {
        # name: (exchange ceiling, BNLJ required in post-cache plan)
        "semdedup_centroid_prune": (2, False),
        "embedding_centroid_confusion": (5, True),
        "embedding_kmeans_lloyd": (3, True),
        # ivf scores in a codegen broadcast-join projection (hash join,
        # not BNLJ) with a min(struct) partial-agg argmin — exchanges
        # are the assignment agg, the tiny probe window, the re-rank
        # window, and broadcasts; the pre-r7 corpus × n_cent window
        # plan sat at the same count but with no partial aggregation
        "similarity_ivf": (6, False),
    }
    bad = []
    for name, (ceiling, needs_bnlj) in budgets.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        a = audit_plan(df)
        nodes = [
            n.nodeName()
            for n in walk_plan(df._jdf.queryExecution().executedPlan())
        ]
        if a["exchanges"] > ceiling or not a["cached"]:
            bad.append((name, "exchanges", a["exchanges"], ceiling, a["cached"]))
        if needs_bnlj and "BroadcastNestedLoopJoin" not in nodes:
            bad.append((name, "missing broadcast-model BNLJ assignment"))
    assert not bad, f"embedding family drifted off the array-native plan: {bad}"


# Per-query ceilings on FACT-TABLE scan sites in the executed plan. A
# subplan that is referenced twice without persist() re-embeds (and
# re-RUNS) its scan at every reference — the r6 scan-collapse sweep cut
# these from 3-6 sites each; this locks them down. Only meaningful for
# uncached plans: an InMemoryRelation reprints its child scan at every
# cache hit (text site != execution), so persisted queries are asserted
# cached instead.
SCAN_SITE_CEILING = {
    "funnel_conversion": ("events", 1),
    "funnel_time_to_convert": ("events", 1),
    "retention_cohorts": ("events", 1),
    "experiment_ab_ttest": ("events", 1),
    "sample_bootstrap_ci": ("events", 1),
    "sample_neyman_allocation": ("events", 1),
    "quality_psi_drift": ("events", 1),
    "timeseries_seasonal_index": ("events", 1),
    "hll_merge_compat": ("events", 1),
    "hll_accuracy_report": ("events", 1),
    "join_asof_nearest": ("events", 2),   # click leg + purchase leg
    "quality_referential_orphans": ("lineitem", 1),  # 3 FKs, one scan
    "text_repetition": ("documents", 1),
}
# These queries moved their shared fact-derived frame behind a persist;
# if the persist is dropped the re-scans come back silently — assert
# the cache marker stays in the plan.
MUST_STAY_CACHED = [
    "text_pmi_collocations", "quality_freshness_watermark",
    "similarity_ivf", "set_union_intersect_except",
    "mixture_downsample_temperature", "cms_frequency",
    "shard_manifest_balanced",
    # r7 scan collapse: recall-report runs both legs off one persisted
    # (vec_id, e, bucket) frame; the embedding operators read everything
    # through the persisted element frame (sizes included)
    "similarity_recall_report", "embedding_kmeans_lloyd",
    "embedding_centroid_confusion", "semdedup_centroid_prune",
]


def test_no_redundant_fact_scans(spark, sf_dir):
    from plan_audit import audit_plan

    from hyperloglog_pyspark_spark.registry import lazy_caches

    queries()
    bad = []
    with lazy_caches():
        for name, (table, ceiling) in SCAN_SITE_CEILING.items():
            # count scan sites via the JVM tree's rootPaths (audit_plan),
            # not the rendered plan text — simpleString truncates
            # Location metadata at spark.sql.maxMetadataStringLength
            # (~100 chars), so with a long $SPARK_GRAFT_SF_DIR a text
            # match zeroes out and the ceiling passes vacuously
            n = audit_plan(REGISTRY[name].fn(spark, sf_dir))[
                "fact_scans"
            ].get(table, 0)
            if n > ceiling or n == 0:
                # n == 0 means the counter itself broke (every query
                # here scans its fact table uncached at least once) —
                # fail loudly rather than pass vacuously
                bad.append((name, table, n, ceiling))
        for name in MUST_STAY_CACHED:
            plan = plan_of(REGISTRY[name].fn(spark, sf_dir))
            if "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan:
                bad.append((name, "persist dropped", 0, 0))
    assert not bad, f"redundant fact scans reintroduced: {bad}"


def test_salted_sessionize_windows_by_slice_not_whole_user(spark, sf_dir):
    """The skew-safe sessionizer must run its event-scale window
    partitioned by (user_id, slice) — never by user_id alone — so a whale
    user's timeline spreads across tasks; only the session-scale stitch
    window partitions by bare user_id. Both groupBys must piggyback on
    the windows' distributions (2 exchanges total, one event-scale)."""
    import re

    queries()
    plan = plan_of(REGISTRY["sessionize_salted_stitch"].fn(spark, sf_dir))
    assert re.search(r"Window \[[^\]]*\], \[user_id#\d+L?, slice#\d+L?\]", plan), (
        "event-scale window is not salted by slice"
    )
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 2


def test_simhash_plan_is_free_under_lazy_caches(spark, sf_dir):
    """Obtaining dedup_simhash's plan must not run Spark jobs: the eager
    fingerprint-cache build (a real job) is execution-path-only, gated on
    registry.EAGER_CACHES so plan sweeps and enumeration stay free."""
    from hyperloglog_pyspark_spark.registry import lazy_caches, release_caches

    queries()
    st = spark.sparkContext.statusTracker()
    with lazy_caches():
        before = set(st.getJobIdsForGroup(None))
        plan = plan_of(REGISTRY["dedup_simhash"].fn(spark, sf_dir))
        new = set(st.getJobIdsForGroup(None)) - before
    release_caches()
    assert "InMemoryRelation" in plan  # the persist is still in the plan
    # parquet file-listing/schema metadata jobs are single-task; the
    # fingerprint cache build (token explode + 32-partition vote shuffle)
    # is not — no multi-task job may run during plan inspection.
    multi = [
        jid
        for jid in new
        for sid in (st.getJobInfo(jid).stageIds if st.getJobInfo(jid) else [])
        if (si := st.getStageInfo(sid)) and si.numTasks > 1
    ]
    assert not multi, f"plan-only inspection launched compute jobs: {multi}"


def test_aqe_skew_join_split_fires_at_runtime(spark):
    """The 100 TB skew story has two legs: the manual salt
    (join_salted_skew) and Spark's automatic AQE skew-join split. This
    locks the automatic leg: plant a 90%-one-key skew, force a
    sort-merge join, execute, and assert the FINAL adaptive plan
    contains a skew-split join (``skew=true`` on the SortMergeJoin /
    a skewed AQEShuffleRead). Thresholds are lowered to test scale;
    the payload is sha2 so the hot partition's shuffle bytes don't
    compress below the detection threshold (constant-key columns
    compress to ~nothing and would silently mask the skew)."""
    tuned = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "131072",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {}
    for k, v in tuned.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(300000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0))
            .otherwise(F.col("id"))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(3000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right.hint("merge"), "k")
        assert len(j.collect()) == 270300  # 270k hot-key + 300 tail rows
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the skewed join"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_eager_caches_defaults_off_in_fresh_import():
    """The library default must be EAGER_CACHES=False (plan-only
    consumers safe without a context manager; execution paths —
    __spark_entry__, bench.py, the test session fixture — opt in).
    Checked in a fresh interpreter because the session fixture mutates
    the module global in this process."""
    import subprocess
    import sys

    code = (
        "from hyperloglog_pyspark_spark import registry;"
        "assert registry.EAGER_CACHES is False;"
        "import __spark_entry__;"
        "assert registry.EAGER_CACHES is True"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run(
        [sys.executable, "-c", code], cwd=repo, check=True, timeout=120
    )


def test_load_table_plan_memo(spark, sf_dir):
    """r16: load_table memoizes its analyzed plan per (application,
    session, sf_dir, table, spread_scan) — same handle back on a hit
    (skipping the per-call parquet footer pass every warm bench rep
    paid), distinct handles across keys, and a full release_caches()
    resets the memo (the store's "load" family). Plan-only machinery:
    nothing executes or persists on either path."""
    from hyperloglog_pyspark_spark import registry

    registry.release_caches()
    assert not registry.memo_entries("load")
    a = load_table(spark, sf_dir, "nation")
    assert load_table(spark, sf_dir, "nation") is a
    assert load_table(spark, sf_dir, "nation", spread_scan=True) is not a
    assert load_table(spark, sf_dir, "region") is not a
    registry.release_caches()
    assert not registry.memo_entries("load")
    b = load_table(spark, sf_dir, "nation")
    assert b is not a  # fresh build after the reset
    assert b.schema == a.schema


def test_load_table_memo_is_per_session(spark, sf_dir):
    """A second session on the same SparkContext (same applicationId)
    never gets the first session's memoized scan: each handle belongs to
    its own session's conf, temp views and UDFs."""
    a = load_table(spark, sf_dir, "nation")
    other = spark.newSession()
    b = load_table(other, sf_dir, "nation")
    assert b is not a
    assert b.sparkSession is other
    assert load_table(other, sf_dir, "nation") is b


def test_spread_is_noop_when_scan_already_parallel(spark, sf_dir):
    """spread() must fan out ONLY when the file's row groups can't feed
    the cores — on a properly split layout it adds no exchange (the
    100 TB no-op guarantee), and on single-row-group testdata it
    repartitions to the core count."""
    from hyperloglog_pyspark_spark.session import cpu_count
    from hyperloglog_pyspark_spark.sources.catalog import spread

    docs = load_table(spark, sf_dir, "documents")
    assert "Exchange" not in plan_of(spread(docs, splits=cpu_count()))
    fanned = spread(docs, splits=1)
    # r16: deterministic whole-row-hash key, not round-robin — a keyless
    # repartition pays a local sort of its input (sortBeforeRepartition)
    assert "hashpartitioning(xxhash64" in plan_of(fanned)
    assert fanned.rdd.getNumPartitions() == cpu_count()


def test_derived_partsupp_matches_oracle_derivation(spark, sf_dir, duck):
    """The Spark partsupp derivation and the oracle CTE must produce the
    IDENTICAL table — checked directly, not just through the five TPC-H
    queries that consume it."""
    from hyperloglog_pyspark_spark.operators.partsupp import (
        PARTSUPP_SQL,
        derived_partsupp,
    )
    from tests.helpers import canon_rows

    spark_ps = derived_partsupp(spark, sf_dir).toPandas()
    duck_ps = duck.execute(
        f"WITH {PARTSUPP_SQL.strip()} SELECT ps_partkey, ps_suppkey, "
        "ps_availqty, CAST(ps_supplycost AS DOUBLE) AS ps_supplycost FROM partsupp"
    ).df()
    spark_ps["ps_supplycost"] = spark_ps["ps_supplycost"].astype(float)
    assert canon_rows(spark_ps) == canon_rows(duck_ps)


def test_salted_skew_join_spreads_hot_keys(spark, sf_dir):
    """The salted skew join must (a) actually take the shuffle-hash path
    (not a broadcast, which would hide the technique) and (b) partition
    the join exchange by BOTH the natural key and the salt — that pair
    key is what spreads a hot event_type across SKEW_SALT_N tasks."""
    import re

    queries()
    plan = plan_of(REGISTRY["join_salted_skew"].fn(spark, sf_dir))
    assert "ShuffledHashJoin" in plan, "salted join lost its shuffle-hash pin"
    assert re.search(r"hashpartitioning\(event_type#\d+, salt#\d+", plan), (
        "join exchange is not partitioned by (event_type, salt)"
    )


def test_ann_index_serve_plans_dynamic_partition_pruning(spark, sf_dir):
    """sink_ann_index_partitioned's serve phase must read the persisted
    codes through DYNAMIC PARTITION PRUNING — the probe list joins the
    read on the partition column (cent_id), so Spark plans a pruning
    subquery and the scan touches only probed cent_id= directories.
    Without it, every serving query re-reads the whole index and the
    layout buys nothing at 100 TB. Asserted on the executed-plan text
    (the dynamicpruning expression in the scan's partition filters)."""
    from hyperloglog_pyspark_spark.operators.similarity import (
        sink_ann_index_partitioned,
    )

    df = sink_ann_index_partitioned(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "codes scan lost its dynamic partition pruning subquery"
    )


def test_ann_index_append_layout_and_reuse(spark, sf_dir):
    """sink_ann_index_append's persisted artifact contract: every code
    file (epoch-0 build AND the two frozen-artifact appends) lands
    inside a ``cent_id=`` partition directory; every appended vector is
    fully coded (PQ_M subspace rows); and a rerun serves the PUBLISHED
    build — identical rows, zero new dirs under the process's scratch
    root (the atomic-rename publish means a rerun can never
    double-append)."""
    import glob
    from collections import Counter

    from hyperloglog_pyspark_spark.operators.similarity import (
        PQ_M,
        sink_ann_index_append,
    )
    from hyperloglog_pyspark_spark.session import _scratch_root, _store_dir

    rows1 = {tuple(r) for r in sink_ann_index_append(spark, sf_dir).collect()}
    base = _store_dir(sf_dir, "embeddings", "ann_index_append")
    parts = glob.glob(os.path.join(base, "codes", "*", "*.parquet"))
    assert parts, "no code files under the published index dir"
    assert all(
        os.path.basename(os.path.dirname(p)).startswith("cent_id=") for p in parts
    ), "a code file landed outside its cent_id= partition directory"
    appended = Counter(r[0] for r in rows1 if r[0] % 10 in (3, 7))
    assert appended and set(appended.values()) == {PQ_M}, (
        "an appended epoch vector is missing subspace codes"
    )
    assert os.path.dirname(base) == _scratch_root()
    pattern = os.path.join(_scratch_root(), "*")
    before = set(glob.glob(pattern))
    assert base in before
    rows2 = {tuple(r) for r in sink_ann_index_append(spark, sf_dir).collect()}
    assert rows2 == rows1, "rerun diverged from the published index"
    assert set(glob.glob(pattern)) == before, "rerun leaked a new scratch dir"


def test_matryoshka_sidecar_coarse_reads_prefix_only(spark, sf_dir):
    """sink_matryoshka_prefix_sidecar's layout contract: the corpus-wide
    coarse pass scans the SKINNY prefix sidecar (vec_id + the truncated
    vector), never the full table's 64-dim column — that is the entire
    point of the dimension-split layout (half the corpus bytes for the
    only corpus-wide stage). Asserted on the executed plan: exactly one
    scan path under .../prefix with the truncated column in its
    ReadSchema, and the full table's scan joined only via the broadcast
    shortlist (its scan count == its point-lookup uses, 2: shortlist
    join + query-vector pick)."""
    from plan_audit import walk_plan

    from hyperloglog_pyspark_spark.operators.similarity import (
        sink_matryoshka_prefix_sidecar,
    )
    from hyperloglog_pyspark_spark.session import _store_dir

    df = sink_matryoshka_prefix_sidecar(spark, sf_dir)
    jplan = df._jdf.queryExecution().executedPlan()
    plan = jplan.toString()
    base = _store_dir(sf_dir, "embeddings", "ann_index_mrl_sidecar")
    assert os.path.isdir(os.path.join(base, "prefix"))
    # count scans by their root paths: the rendered plan truncates
    # Location metadata at spark.sql.maxMetadataStringLength, which cuts
    # a store path under the scratch root before its last component
    scans = [
        n.relation().location().rootPaths().head().toString()
        for n in walk_plan(jplan) if n.nodeName().startswith("Scan parquet")
    ]
    # the coarse self-join reads the sidecar twice (queries + corpus)
    n_prefix = sum(p.endswith(os.path.join(base, "prefix")) for p in scans)
    n_full = sum(p.endswith(os.path.join(base, "full")) for p in scans)
    assert n_prefix == 2, f"coarse pass should scan the sidecar twice, saw {n_prefix}"
    assert n_full == 2, f"full table is shortlist/query-pick only, saw {n_full} scans"
    # no scan of the ORIGINAL embeddings table: serve is read-back only
    assert "embeddings.parquet" not in plan, "serve phase escaped the persisted layout"
    assert not [p for p in scans if p.endswith("embeddings.parquet")]
