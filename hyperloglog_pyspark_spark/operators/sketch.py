"""The sketch layer — the reference's actual capability surface, made
first-class and relational.

Reference mapping (SURVEY.md §2.1):
- O1-O7 (init/insert/estimate): `approx_count_distinct(col, rsd)` — Spark's
  built-in HLL++ (same Heule et al. algorithm the reference implements in
  HLL/HyperLogLog.py:182-255, including linear-counting + bias correction).
- O8 (merge, HLL/HyperLogLog.py:157-179): `hll_union_agg` over BinaryType
  DataSketches columns — the relational form of passing `hmap` register
  arrays between machines (HLL/examples.py:64-66).
- O11 (distributed estimate, HLL/examples.py:56-67): one `agg()` —
  Catalyst plans partial sketches per partition + merge automatically.
- O12 (exact oracle, HLL/examples.py:70-83): COUNT(DISTINCT ...), and the
  `within_tol` pattern below.

Correctness pattern: approximate estimates can never hash-match a DuckDB
oracle (different hash functions), so tolerance queries emit the EXACT
value plus a boolean `approx_ok` = |est − exact| / exact ≤ 3·rsd; the
oracle emits the exact value plus literal TRUE. The hash comparison then
*verifies the accuracy contract itself* — the same oracle pattern the
reference uses (calculate_empirical_accuracy, HLL/examples.py:70-83).

Scale: HLL state is a fixed 2^p-register buffer regardless of input size —
a 100 TB scan reduces to KB-scale partial states, and sketch columns are
re-aggregatable (store daily sketches once, roll up to any coarser grain
without rescanning raw data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hyperloglog_pyspark_spark.registry import register, tracked_persist
from hyperloglog_pyspark_spark.session import _build_store_atomically, _store_dir
from hyperloglog_pyspark_spark.sources.catalog import literal_frame, load_table

# 3-sigma acceptance per the reference's observed envelope (BASELINE.md):
# |rel err| ≤ 3 × stderr, stderr = 1.04/√m.
RSD = 0.02  # approx_count_distinct accuracy knob
LG_K = 14  # DataSketches lgConfigK → stderr ≈ 1.04/√2^14 ≈ 0.81%


def _stderr(lg_k: int) -> float:
    """HLL/Theta relative standard error 1.04/√2^lg_k — the one formula
    every acceptance band derives from (inline pre-reduced literals like
    1.04/2**6.0 drifted from their claimed precisions before; see the
    ACC_RSDS header note)."""
    return 1.04 / (2 ** (lg_k / 2.0))


def _tol(est: F.Column, exact: F.Column, stderr: float) -> F.Column:
    return (F.abs(est.cast("double") - exact) / exact) <= (3 * stderr)


@register(
    "approx_distinct_users_daily",
    category="sketch",
    bench=True,
    oracle="""
    SELECT CAST(ts AS DATE) AS day,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           TRUE AS approx_ok
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def approx_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: distinct users per day — approximate (HLL++) next to its
    exact oracle, mirroring estimate_distinct_elements_parallel +
    calculate_empirical_accuracy (HLL/examples.py:56-83)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        F.approx_count_distinct("user_id", RSD).alias("approx_users"),
    )
    return agg.select(
        "day", "n_users", "n_events", _tol(F.col("approx_users"), F.col("n_users"), RSD).alias("approx_ok")
    )


@register(
    "hll_sketch_rollup",
    category="sketch",
    bench=True,
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch column rollup: build per-(event_type, day) HLL sketches, then
    merge day-sketches up to event_type with hll_union_agg and estimate.

    This is the reference's merge story (HLL/HyperLogLog.py:157-179 — the
    elementwise register max) done relationally over BinaryType sketch
    values: aggregate once at fine grain, re-aggregate the sketches — never
    the raw data — for every coarser grain.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.col("ts").cast("date").alias("day")).agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(LG_K)).alias("sketch")
    )
    rolled = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))
    stderr = _stderr(LG_K)
    return exact.join(rolled, "event_type").select(
        "event_type",
        "n_users",
        _tol(F.col("approx_users"), F.col("n_users"), stderr).alias("approx_ok"),
    )


@register(
    "hll64_parity",
    category="sketch",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def hll64_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event_type via the clean-room sha1 HLL64 sketch
    (functions/hll64_spark.py) — the reference's own estimator, registers
    built by Spark's hash aggregate, tolerance-checked against exact.

    p=12 ⇒ stderr 1.04/√4096 ≈ 1.63%; acceptance 3σ, the envelope the
    reference itself demonstrates (−1.14% at p=12, BASELINE.md).
    """
    from hyperloglog_pyspark_spark.functions.hll64_spark import hll64_estimate_col, hll64_sketch

    ev = load_table(spark, sf_dir, "events")
    sketches = hll64_sketch(ev, ["event_type"], "user_id", k=2**12)
    est = hll64_estimate_col(sketches, alias="approx_users")
    exact = ev.groupBy("event_type").agg(F.count_distinct("user_id").alias("n_users"))
    stderr = _stderr(12)
    return exact.join(est.select("event_type", "approx_users"), "event_type").select(
        "event_type",
        "n_users",
        _tol(F.col("approx_users"), F.col("n_users"), stderr).alias("approx_ok"),
    )


MG_K = 256  # Misra-Gries counters per partition summary
TOP_N = 20


@register(
    "heavy_hitters_mg",
    category="sketch",
    bench=True,
    oracle=f"""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS freq FROM tok GROUP BY token
    )
    SELECT token, CAST(freq AS BIGINT) AS freq, TRUE AS sketch_ok
    FROM counts ORDER BY freq DESC, token LIMIT {TOP_N}
    """,
)
def heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top token frequencies with the Misra-Gries mergeable-summary
    contract checked in-plan: the sketch (functions/mgsketch.py — compressed
    per-partition counters, additive merge) must contain every token whose
    true frequency exceeds n/(k+1), with weight within [freq − n/(k+1),
    freq]. Output rows are the EXACT top-{TOP_N} (deterministic tie-break),
    so the DuckDB oracle hash-verifies the accuracy contract itself — the
    same pattern as the HLL tolerance queries above.

    Scale: the sketch shuffle carries ≤ k rows per partition; the exact
    side is one token aggregate + TakeOrdered — at 100 TB you keep the
    sketch and drop the exact side, which exists here as the oracle."""
    from hyperloglog_pyspark_spark.functions.mgsketch import mg_summary

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    # Exact counts serve double duty: the top-k rows AND the total token
    # count n (sum of freqs over the vocab-sized frame) — two token-table
    # scans total (exact + sketch), not three.
    exact = tracked_persist(toks.groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    top = exact.orderBy(F.col("freq").desc(), "token").limit(TOP_N)
    n_total = exact.agg(F.sum("freq").alias("n"))
    mg = mg_summary(toks, "token", MG_K).withColumnRenamed("item", "token")
    err = F.col("n") / (MG_K + 1.0)
    ok = (F.col("freq") <= err) | (
        F.col("weight").isNotNull()
        & (F.col("weight") <= F.col("freq"))
        & (F.col("weight") >= F.col("freq") - err)
    )
    return (
        top.join(mg, "token", "left")
        .crossJoin(F.broadcast(n_total))
        .select("token", F.col("freq").cast("long").alias("freq"), ok.alias("sketch_ok"))
    )


PRICE_CUT = 450000.0
YEAR_B = 1997

#: shared A/B set-definition CTE for hll_set_intersection AND
#: theta_set_algebra — the two docstrings promise directly comparable
#: contracts, which only a single definition enforces.
_AB_FLAGS_CTE = f"""flags AS (
        SELECT o_custkey,
               MAX(CASE WHEN o_totalprice > {PRICE_CUT} THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN year(o_orderdate) = {YEAR_B} THEN 1 ELSE 0 END) AS in_b
        FROM orders GROUP BY o_custkey
    )"""


def _ab_flags(od: DataFrame) -> DataFrame:
    """Spark twin of _AB_FLAGS_CTE: one row per customer with A/B
    membership flags (A = ever ordered above PRICE_CUT, B = ever ordered
    in YEAR_B) — shared by the HLL and Theta set-algebra queries."""
    return od.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_totalprice") > PRICE_CUT, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.year("o_orderdate") == YEAR_B, 1).otherwise(0)).alias("in_b"),
    )


@register(
    "hll_set_intersection",
    category="sketch",
    oracle=f"""
    WITH {_AB_FLAGS_CTE}
    SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
           CAST(SUM(in_b) AS BIGINT) AS n_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter_exact,
           TRUE AS approx_ok
    FROM flags
    """,
)
def hll_set_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on HLL sketches: estimate |A ∩ B| by inclusion-exclusion
    (est(A) + est(B) − est(A ∪ B)), where the union estimate comes from
    merging the two sketches — the register-max merge that is the
    reference's only composition operator (HLL/HyperLogLog.py:157-179)
    used to answer a question HLL cannot answer directly.

    A = customers with an order over {PRICE_CUT}; B = customers ordering in
    {YEAR_B}. The error of the differenced estimate is bounded by the sum
    of the three absolute errors, so acceptance is
    |est − exact| ≤ 3·stderr·(|A| + |B| + |A∪B|) — the 3-sigma envelope
    propagated through the subtraction (exact sizes from the same scan).

    Scale: flags collapse orders to one row per customer (one shuffle);
    the three sketches + three exact counts are a single global aggregate
    over that deduped frame — constant-size state regardless of input.
    """
    od = load_table(spark, sf_dir, "orders")
    flags = _ab_flags(od)
    key = F.col("o_custkey").cast("string")
    agg = flags.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter_exact"),
        F.hll_sketch_agg(F.when(F.col("in_a") == 1, key), F.lit(LG_K)).alias("sk_a"),
        F.hll_sketch_agg(F.when(F.col("in_b") == 1, key), F.lit(LG_K)).alias("sk_b"),
    )
    stderr = _stderr(LG_K)
    est = agg.select(
        "n_a",
        "n_b",
        "n_inter_exact",
        F.hll_sketch_estimate("sk_a").alias("ea"),
        F.hll_sketch_estimate("sk_b").alias("eb"),
        F.hll_sketch_estimate(
            F.hll_union("sk_a", "sk_b")
        ).alias("eu"),
    )
    est_inter = F.col("ea") + F.col("eb") - F.col("eu")
    bound = 3 * stderr * (F.col("ea") + F.col("eb") + F.col("eu"))
    return est.select(
        "n_a",
        "n_b",
        "n_inter_exact",
        (F.abs(est_inter - F.col("n_inter_exact")) <= bound).alias("approx_ok"),
    )


THETA_LG_K = 14  # Theta nominal entries knob, matched to LG_K
QUANTILE_ACC = 1000  # percentile_approx accuracy: rank error ≤ n/accuracy


@register(
    "approx_quantile_check",
    category="sketch",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile sketch with its accuracy contract checked in-plan: exact
    median (interpolated, = DuckDB quantile_cont) next to percentile_approx
    (Greenwald-Khanna style mergeable sketch), accepted iff the approx
    value's true fractional rank is within the sketch's guarantee
    (rank error ≤ n/accuracy, plus one row of discreteness slack).

    The check is rank-space, not value-space — GK bounds rank, and value
    error is unbounded for skewed data, so comparing values would test the
    wrong contract. Ranking the approx answer costs a second broadcast
    pass over the group (3 rows broadcast back to the scan).

    Scale: both aggregates are single partial+final passes; sketch state
    is O(accuracy·log n) per group, mergeable across partitions — the
    same re-aggregation story as the HLL family.
    """
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", 0.5).alias("p50_exact"),
        F.percentile_approx("l_extendedprice", 0.5, QUANTILE_ACC).alias("p50_approx"),
        F.count(F.lit(1)).alias("n"),
    )
    ranked = (
        li.join(F.broadcast(agg), "l_returnflag")
        .groupBy("l_returnflag", "p50_exact", "p50_approx", "n")
        .agg(
            F.sum(F.when(F.col("l_extendedprice") <= F.col("p50_approx"), 1).otherwise(0)).alias(
                "rank_le"
            )
        )
    )
    frac_err = F.abs(F.col("rank_le") / F.col("n") - 0.5)
    slack = 2.0 / QUANTILE_ACC + 1.0 / F.col("n")
    return ranked.select(
        "l_returnflag",
        F.round("p50_exact", 4).alias("p50_exact"),
        (frac_err <= slack).alias("approx_ok"),
    )


@register(
    "hll_merge_compat",
    category="sketch",
    oracle="""
    SELECT COUNT(DISTINCT user_id) AS n_users_all, TRUE AS approx_ok
    FROM events
    """,
)
def hll_merge_compat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merging sketches built at DIFFERENT precisions.

    The reference refuses to merge unless raw k matches exactly
    (HLL/HyperLogLog.py:165-167 — a latent bug: compatibility depends on p,
    not k). DataSketches handles mixed lgConfigK by downgrading to the
    coarser precision (allowDifferentLgConfigK); we surface that behavior
    deliberately: union a lgK=14 sketch with a lgK=12 sketch and check the
    estimate still lands within the COARSER sketch's 3-sigma envelope.

    Both sketches (conditional inputs — aggregates skip the NULLed-out
    parity) and the exact count are partial aggregates of ONE fact scan;
    the mixed-precision merge is the scalar hll_union on the single agg
    row. The filter-per-sketch form scanned events three times.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.hll_sketch_agg(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id").cast("string")),
            F.lit(14),
        ).alias("s_hi"),
        F.hll_sketch_agg(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id").cast("string")),
            F.lit(12),
        ).alias("s_lo"),
        F.count_distinct("user_id").alias("n_users_all"),
    )
    stderr = _stderr(12)  # coarser sketch: lgK=12
    # hll_sketch_agg returns an EMPTY sketch (never NULL) over an
    # all-NULL input, and hll_union(empty, full) estimates correctly —
    # verified on Spark 4.1.2 — so no coalesce fallback is needed for
    # an all-one-parity input
    return agg.select(
        "n_users_all",
        _tol(
            F.hll_sketch_estimate(F.hll_union("s_hi", "s_lo", True)),
            F.col("n_users_all"),
            stderr,
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch and Bloom filter — the other two classic mergeable
# stream summaries, built RELATIONALLY so every cell/bit is a row and the
# construction is verifiable cross-engine (md5-anchored hashing, like the
# MinHash/SimHash family). Merging two sketches is SUM over cells (CMS) /
# OR over bits (Bloom) — plain re-aggregation, the same monoid story as
# the reference's register-max merge (HLL/HyperLogLog.py:157-179).
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
BLOOM_BITS = 1 << 16
BLOOM_K = 4


@register(
    "cms_frequency",
    category="sketch",
    bench=True,
    oracle=f"""
    WITH cells AS (
        SELECT d.d, CAST('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % {CMS_WIDTH} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS cell
        FROM events CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS d) d
        GROUP BY d.d, bucket
    ),
    probes AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM events GROUP BY user_id
        ORDER BY n_exact DESC, user_id LIMIT 20
    )
    SELECT p.user_id, p.n_exact, CAST(MIN(c.cell) AS BIGINT) AS n_cms,
           MIN(c.cell) >= p.n_exact AS cms_ok
    FROM probes p
    CROSS JOIN (SELECT unnest(range(0, {CMS_DEPTH})) AS d) d
    JOIN cells c
      ON c.d = d.d
     AND c.bucket = CAST('0x' || substring(md5(CAST(d.d AS VARCHAR) || ':' || CAST(p.user_id AS VARCHAR)), 1, 15) AS BIGINT) % {CMS_WIDTH}
    GROUP BY p.user_id, p.n_exact
    """,
)
def cms_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over event user traffic: a d×w cell table built in
    one grouped pass, probed for the 20 hottest users; emits the exact
    count, the CMS estimate, and the one-sided guarantee est ≥ exact.

    Relational CMS: each (depth, md5(depth:key) mod w) pair is a row, so
    the sketch IS a 1,024-row DataFrame — mergeable across shards or days
    by summing cells, the count-analog of the reference's register-max
    merge. md5-anchored bucketing makes the construction bit-identical in
    DuckDB, so the driver hash-checks the whole sketch contract.

    Scale: ONE fact scan reduces the stream to per-key counts (map-side
    partials); both the cell table and the top-k probe set derive from
    that persisted key-level rollup, so the d× depth replication runs
    over #keys rows, never #events — the build-from-raw form scanned
    the stream once per side and replicated every EVENT d×. Cells are
    identical either way: the bucket sum of per-key counts is the
    per-bucket event count. d×w cells regardless of input size (the
    whole point of a sketch); the probe side broadcasts the 1,024-cell
    table against the top-k keys.
    """
    from hyperloglog_pyspark_spark.functions.texttools import md5_long

    ev = load_table(spark, sf_dir, "events")
    depths = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("d"))

    def bucket(d: F.Column, key: F.Column) -> F.Column:
        return F.pmod(
            md5_long(F.concat(d.cast("string"), F.lit(":"), key.cast("string"))),
            F.lit(CMS_WIDTH),
        )

    per_key = tracked_persist(
        ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    )
    cells = (
        per_key.crossJoin(F.broadcast(depths))
        .groupBy("d", bucket(F.col("d"), F.col("user_id")).alias("bucket"))
        .agg(F.sum("n_exact").cast("long").alias("cell"))
    )
    probes = per_key.orderBy(F.col("n_exact").desc(), "user_id").limit(20)
    p = probes.crossJoin(F.broadcast(depths)).alias("p")
    c = cells.alias("c")
    return (
        p.join(
            F.broadcast(c),
            (F.col("c.d") == F.col("p.d"))
            & (F.col("c.bucket") == bucket(F.col("p.d"), F.col("p.user_id"))),
        )
        .groupBy("p.user_id", "p.n_exact")
        .agg(F.min("c.cell").cast("long").alias("n_cms"))
        .select(
            "user_id", "n_exact", "n_cms",
            (F.col("n_cms") >= F.col("n_exact")).alias("cms_ok"),
        )
    )


@register(
    "bloom_membership",
    category="sketch",
    bench=True,
    oracle=f"""
    WITH bits AS (
        SELECT DISTINCT CAST('0x' || substring(md5(CAST(k.k AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) % {BLOOM_BITS} AS bit
        FROM orders CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k) k
        WHERE o_orderdate >= DATE '2000-06-01'
    ),
    probe AS (
        SELECT c_custkey,
               CAST('0x' || substring(md5(CAST(k.k AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR)), 1, 15) AS BIGINT) % {BLOOM_BITS} AS bit
        FROM customer CROSS JOIN (SELECT unnest(range(0, {BLOOM_K})) AS k) k
    ),
    verdict AS (
        SELECT p.c_custkey,
               COUNT(b.bit) = {BLOOM_K} AS in_bloom,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                       AND o.o_orderdate >= DATE '2000-06-01') AS in_exact
        FROM probe p LEFT JOIN bits b ON p.bit = b.bit
        GROUP BY p.c_custkey
    )
    SELECT in_exact, in_bloom, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM verdict GROUP BY in_exact, in_bloom
    """,
)
def bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership: the set of customers with recent orders is
    summarized into a 64 Ki-bit filter (k=4 md5 hashes); every customer is
    probed and the confusion matrix (exact membership × bloom verdict) is
    emitted — no false negatives by construction, false positives counted.

    Relational Bloom: the filter is a DataFrame of set bit positions —
    mergeable across shards by DISTINCT union (bitwise OR), broadcastable
    to any probe site. This is the join-pruning sidecar pattern: at 100 TB
    you'd broadcast these bits to prune a fact scan before the real join
    (Spark's runtime bloom-filter join does exactly this inside Catalyst;
    see tests/test_layout.py's might_contain assertion).

    Scale: build = dedupe the keys ONCE (the persisted distinct-key
    frame feeds both the bit set — ≤ k·|keys| hash rows — and the exact
    membership side, so the fact table scans once and the k-way
    explosion runs over keys, not qualifying rows); probe = broadcast
    join, no shuffle of the probed table.
    """
    from hyperloglog_pyspark_spark.functions.texttools import md5_long

    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2000-06-01")
    cust = load_table(spark, sf_dir, "customer")
    ks = spark.range(BLOOM_K).select(F.col("id").cast("int").alias("k"))

    def bit(k: F.Column, key: F.Column) -> F.Column:
        return F.pmod(
            md5_long(F.concat(k.cast("string"), F.lit(":"), key.cast("string"))),
            F.lit(BLOOM_BITS),
        )

    keys = tracked_persist(
        orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    )
    bits = (
        keys.crossJoin(F.broadcast(ks))
        .select(bit(F.col("k"), F.col("c_custkey")).alias("bit"))
        .distinct()
        .withColumn("set_bit", F.lit(1))
    )
    probe = cust.crossJoin(F.broadcast(ks)).select(
        "c_custkey", bit(F.col("k"), F.col("c_custkey")).alias("bit")
    )
    verdict = (
        probe.join(F.broadcast(bits), "bit", "left")
        .groupBy("c_custkey")
        .agg((F.count("set_bit") == BLOOM_K).alias("in_bloom"))
    )
    exact = keys.withColumn("in_exact_flag", F.lit(1))
    return (
        verdict.join(F.broadcast(exact), "c_custkey", "left")
        .select(
            F.col("in_exact_flag").isNotNull().alias("in_exact"), "in_bloom"
        )
        .groupBy("in_exact", "in_bloom")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )


@register(
    "bitmap_distinct_rollup",
    category="sketch",
    bench=True,
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY CAST(ts AS DATE)
    UNION ALL
    SELECT 'ALL' AS day, COUNT(DISTINCT user_id) AS n_users FROM events
    """,
)
def bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counts via bitmap aggregates: per-day user
    bitmaps (bucket number + bit position split the 64-bit key space into
    32 Ki-bit RoaringBitmap-style segments), rolled up to the full-period
    count by OR-merging the day bitmaps — never rescanning raw events.

    This completes the sketch-family spectrum: HLL/Theta give approximate
    mergeable distinct in O(KB), bitmaps give EXACT mergeable distinct in
    O(|universe|/8) bits — the trade the reference's README discusses
    (sparse-representation caveat, README.md:22). Because it is exact,
    the DuckDB oracle is plain COUNT(DISTINCT): the hash check covers the
    whole bucket/bit/merge pipeline.

    Scale: one shuffle keyed (day, bucket) builds the segments; the rollup
    aggregates segment bitmaps, not rows — re-aggregation cost is
    proportional to the bitmap count, the same store-once-roll-up-anywhere
    pattern as hll_sketch_rollup but lossless.
    """
    ev = load_table(spark, sf_dir, "events")
    # Grain surfaced as a string so the rollup row is 'ALL', not a NULL
    # date (NULL dates canonicalize differently across pandas bridges).
    day = F.col("ts").cast("date").cast("string").alias("day")
    segments = (
        ev.select(day, "user_id")
        .groupBy("day", F.bitmap_bucket_number("user_id").alias("bkt"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    )
    segments = tracked_persist(segments)
    per_day = segments.groupBy("day").agg(
        F.sum(F.bitmap_count("bm")).cast("long").alias("n_users")
    )
    total = (
        segments.groupBy("bkt")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).cast("long").alias("n_users"))
        .select(F.lit("ALL").alias("day"), "n_users")
    )
    return per_day.select("day", "n_users").unionAll(total)


@register(
    "theta_set_algebra",
    category="sketch",
    oracle=f"""
    WITH {_AB_FLAGS_CTE}
    SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
           CAST(SUM(in_b) AS BIGINT) AS n_b,
           CAST(SUM(in_a * in_b) AS BIGINT) AS n_inter_exact,
           CAST(SUM(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_diff_exact,
           TRUE AS inter_ok, TRUE AS diff_ok
    FROM flags
    """,
)
def theta_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on Theta sketches: |A ∩ B| and |A \\ B| estimated by
    NATIVE sketch intersection/difference (DataSketches Theta) — the
    operation HLL cannot do directly. The companion hll_set_intersection
    answers the same question by inclusion-exclusion with an error bound
    that grows with |A| + |B| + |A∪B|; Theta's intersection error scales
    with the result size instead, which is why warehouses keep BOTH sketch
    families. Same A/B definitions and exact oracle as the HLL variant so
    the two contracts are directly comparable.

    Scale: identical single-pass shape — one customer-grain shuffle, then
    a constant-size global aggregate carrying two KB-scale sketches.
    """
    od = load_table(spark, sf_dir, "orders")
    flags = _ab_flags(od)
    key = F.col("o_custkey").cast("string")
    agg = flags.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_inter_exact"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_diff_exact"),
        F.theta_sketch_agg(F.when(F.col("in_a") == 1, key), THETA_LG_K).alias("sk_a"),
        F.theta_sketch_agg(F.when(F.col("in_b") == 1, key), THETA_LG_K).alias("sk_b"),
    )
    est = agg.select(
        "n_a",
        "n_b",
        "n_inter_exact",
        "n_diff_exact",
        F.theta_sketch_estimate(F.theta_intersection("sk_a", "sk_b")).alias("ei"),
        F.theta_sketch_estimate(F.theta_difference("sk_a", "sk_b")).alias("ed"),
    )
    # Theta at lgK=14 over |A|,|B| ~ 1e3 keys retains every hash (exact
    # regime, theta = 1) — still accept a 3-sigma band on the larger
    # operand to stay valid when sf scales the sets past 2^14.
    stderr = _stderr(THETA_LG_K)
    bound_i = 3 * stderr * (F.col("n_a") + F.col("n_b"))
    bound_d = 3 * stderr * (F.col("n_a") + F.col("n_b"))
    return est.select(
        "n_a",
        "n_b",
        "n_inter_exact",
        "n_diff_exact",
        (F.abs(F.col("ei") - F.col("n_inter_exact")) <= bound_i).alias("inter_ok"),
        (F.abs(F.col("ed") - F.col("n_diff_exact")) <= bound_d).alias("diff_ok"),
    )


# rsd = 1.04/√2^p exactly, for p = 8, 12, 16 (the reference's stderr
# formula, HLL/HyperLogLog.py:86) — the earlier rounded values 0.026 /
# 0.0065 mapped to different precisions than the labels claimed.
ACC_PS = (8, 12, 16)
ACC_RSDS = [_stderr(p) for p in ACC_PS]


@register(
    "hll_accuracy_report",
    category="sketch",
    bench=True,
    oracle=" UNION ALL ".join(
        f"SELECT CAST({rsd!r} AS DOUBLE) AS rsd, COUNT(DISTINCT user_id) AS n_exact, "
        "TRUE AS approx_ok FROM events"
        for rsd in ACC_RSDS
    ),
)
def hll_accuracy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's calculate_empirical_accuracy (HLL/examples.py:70-83)
    as one relational pass, swept across three accuracy knobs: estimate
    distinct users at rsd ≈ 1.04/√2^p for p ∈ {8, 12, 16} next to the
    exact count, asserting each estimate inside its own 3-sigma envelope
    (the BASELINE.md acceptance band — the reference observed −1.14% at
    p=12 on its fixture).

    Scale: all three sketches and the exact count are partial aggregates
    of a single scan — the accuracy/space trade-off (reference
    HyperLogLog.py:73-86) surfaced as a query, not a config. The
    sketches are DataSketches HLL at lgK = p (hll_sketch_agg): the same
    three precisions through approx_count_distinct (rsd down to 0.0041)
    measured ~7.5 s for the p=16 partial alone on a 100k-row partition
    — Spark's HLL++ aggregate degrades badly at high precision — while
    the DataSketches path runs the whole three-knob sweep in ~1 s with
    identical acceptance envelopes.
    """
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count_distinct("user_id").alias("n_exact"),
        *[
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(p))
            ).alias(f"est_{i}")
            for i, p in enumerate(ACC_PS)
        ],
    )
    rows = [
        F.struct(
            F.lit(rsd).cast("double").alias("rsd"),
            F.col("n_exact"),
            _tol(F.col(f"est_{i}"), F.col("n_exact"), rsd).alias("approx_ok"),
        )
        for i, rsd in enumerate(ACC_RSDS)
    ]
    # explode the per-knob rows out of the single agg row — a
    # union-of-selects re-embeds (and re-runs) the fact-scan agg once
    # per knob
    return agg.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


SLIDE_DAYS = 7  # trailing window width (days)


@register(
    "hll_sliding_distinct",
    category="sketch",
    oracle=f"""
    WITH days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    win AS (
        SELECT d.day,
               COUNT(DISTINCT CAST(e.ts AS DATE)) AS n_days_merged,
               COUNT(DISTINCT e.user_id) AS n_users_exact
        FROM days d
        JOIN events e ON CAST(e.ts AS DATE) BETWEEN d.day - {SLIDE_DAYS - 1} AND d.day
        GROUP BY d.day
    )
    SELECT day,
           CAST(n_days_merged AS BIGINT) AS n_days_merged,
           CAST(n_users_exact AS BIGINT) AS n_users_exact,
           TRUE AS approx_ok
    FROM win
    """,
)
def hll_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day by MERGING DAILY SKETCHES,
    never recounting raw data: one fact-scale pass builds a sketch per
    day, then each output day unions its trailing window of day-sketches
    (register-max merge — the reference's HyperLogLog.py:157-179 applied
    across overlapping windows). This is the sliding-distinct shape that
    is quadratic if recounted raw (every event rescanned ~7×) but
    day-granular with sketches: at 100 TB the re-merge runs on a
    |days|-sized KB-per-row sketch table.

    The exact recount (the thing the sketch path avoids) is computed here
    only as the acceptance oracle, with each estimate asserted inside its
    3-sigma envelope; the day-to-window expansion joins the tiny distinct
    day frame, broadcast, never a fact-to-fact join."""
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    # The |days|-sized sketch table feeds three plan branches (day frame,
    # merge side, exact-side day frame) — persist so the fact-scale
    # aggregation runs once; only the exact recount rescans raw events.
    daily = tracked_persist(
        ev.groupBy(day.alias("sday")).agg(
            F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(LG_K)).alias("sketch")
        )
    )
    days = daily.select(F.col("sday").alias("day"))
    merged = (
        days.join(
            F.broadcast(daily),
            (F.col("sday") >= F.date_sub(F.col("day"), SLIDE_DAYS - 1))
            & (F.col("sday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_days_merged"),
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users"),
        )
    )
    exact = (
        ev.select(day.alias("eday"), "user_id")
        .join(
            F.broadcast(days),
            (F.col("eday") >= F.date_sub(F.col("day"), SLIDE_DAYS - 1))
            & (F.col("eday") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("n_users_exact"))
    )
    stderr = _stderr(LG_K)
    return exact.join(merged, "day").select(
        "day",
        F.col("n_days_merged").cast("long").alias("n_days_merged"),
        "n_users_exact",
        _tol(F.col("approx_users"), F.col("n_users_exact"), stderr).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# DDSketch-style log-bucket quantiles (integer-exact variant).
# ---------------------------------------------------------------------------

DD_GAMMA = 1.02  # relative accuracy ~1%: bucket i covers [γ^i, γ^(i+1))
DD_MAX_CENTS = 50_000_000  # covers event values up to 500k currency units
DD_QS = (0.5, 0.9, 0.95, 0.99)


def _dd_boundaries() -> list[tuple[int, int, int]]:
    """(bucket, lo_cents, hi_cents) rows with INTEGER boundaries
    floor(γ^i): computed once at import, inlined as literals into BOTH
    engines — bucket assignment is pure integer comparison, so the sketch
    is bit-deterministic with no transcendental in the data path."""
    # Bucket -1 catches cents < 1 (zero/near-zero values) so no row is
    # ever silently dropped from the sketch population.
    rows, i, lo = [(-1, -(1 << 62), 1)], 0, 1
    while lo <= DD_MAX_CENTS:
        g = 1.0
        while int(g * lo) <= lo:  # next strictly-larger integer boundary
            g *= DD_GAMMA
        hi = int(g * lo)
        rows.append((i, lo, hi))
        i, lo = i + 1, hi
        if len(rows) > 2000:  # safety rail; γ=1.02 gives ~900 buckets
            raise RuntimeError("DDSketch boundary runaway")
    return rows


_DD_ROWS = _dd_boundaries()
_DD_VALUES_SQL = ", ".join(f"({b}, {lo}, {hi})" for b, lo, hi in _DD_ROWS)


@register(
    "sketch_ddsketch_quantiles",
    category="sketch",
    bench=True,
    oracle=f"""
    WITH bounds(bucket, lo, hi) AS (VALUES {_DD_VALUES_SQL}),
    cents AS (
        SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS c FROM events
    ),
    sk AS (
        SELECT event_type, bucket, lo, hi, COUNT(*) AS n
        FROM cents JOIN bounds ON c >= lo AND c < hi
        GROUP BY event_type, bucket, lo, hi
    ),
    cum AS (
        SELECT event_type, bucket, lo, hi, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
               SUM(n) OVER (PARTITION BY event_type) AS total_n
        FROM sk
    )
    SELECT event_type, q,
           CAST(MIN(bucket) AS BIGINT) AS bucket,
           CAST(MIN(lo) AS BIGINT) AS est_lo_cents,
           CAST(MIN(hi) AS BIGINT) AS est_hi_cents,
           CAST(MIN(total_n) AS BIGINT) AS n
    FROM cum CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in DD_QS)}]) AS q)
    WHERE cum_n >= CAST(ceil(q * total_n) AS BIGINT)
    GROUP BY event_type, q
    """,
)
def sketch_ddsketch_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style quantiles (γ=1.02 → ~1% relative error) over event
    values: values in integer cents land in log-spaced buckets via a
    broadcast range join against ~900 precomputed INTEGER boundaries —
    no float/transcendental in the data path, so the sketch is
    bit-deterministic across engines. Per quantile, the answer is the
    first bucket whose cumulative count reaches ⌈q·n⌉, reported as its
    [lo, hi) cent range (the γ-relative-error guarantee).

    This is the mergeable quantile sketch of choice for 100 TB telemetry:
    the (group, bucket)→count table IS the sketch — partial-aggregated
    map-side, merged by addition, unioned across days/shards — and the
    cumulative extraction runs on #groups×#buckets rows, never raw data.
    The quantile scan is a per-group window over ≤900 bucket rows.
    """
    ev = load_table(spark, sf_dir, "events", spread_scan=True)
    bounds = literal_frame(spark, _DD_ROWS, "bucket int, lo long, hi long")
    cents = ev.select(
        "event_type", F.round(F.col("value") * 100, 0).cast("long").alias("c")
    )
    sk = (
        cents.join(F.broadcast(bounds), (F.col("c") >= F.col("lo")) & (F.col("c") < F.col("hi")))
        .groupBy("event_type", "bucket", "lo", "hi")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window

    wcum = Window.partitionBy("event_type").orderBy("bucket")
    wtot = Window.partitionBy("event_type")
    cum = sk.select(
        "event_type",
        "bucket",
        "lo",
        "hi",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(wtot).alias("total_n"),
    )
    qs = literal_frame(spark, [(q,) for q in DD_QS], "q double")
    return (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum_n") >= F.ceil(F.col("q") * F.col("total_n")))
        .groupBy("event_type", "q")
        .agg(
            F.min("bucket").cast("long").alias("bucket"),
            F.min("lo").alias("est_lo_cents"),
            F.min("hi").alias("est_hi_cents"),
            F.min("total_n").alias("n"),
        )
    )


@register(
    "hll_overlap_matrix",
    category="sketch",
    bench=True,
    oracle="""
    WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
    n AS (SELECT event_type, COUNT(*) AS n FROM tu GROUP BY event_type),
    ix AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_inter_exact
        FROM tu a JOIN tu b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT ix.type_a, ix.type_b,
           CAST(na.n AS BIGINT) AS n_a,
           CAST(nb.n AS BIGINT) AS n_b,
           CAST(ix.n_inter_exact AS BIGINT) AS n_inter_exact,
           TRUE AS approx_ok
    FROM ix
    JOIN n na ON na.event_type = ix.type_a
    JOIN n nb ON nb.event_type = ix.type_b
    """,
)
def hll_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise audience-overlap matrix from REUSED sketches — the
    production pattern the reference's merge operator
    (HLL/HyperLogLog.py:157-179) exists for: build ONE HLL sketch per
    segment (event_type) in a single pass, then answer every pairwise
    |A ∩ B| question by register-max merging sketch pairs and
    inclusion-exclusion — est(A) + est(B) − est(A ∪ B) — without ever
    rescanning the corpus. hll_set_intersection proves the identity for
    one fixed pair; this op is the n-segment generalization where the
    sketch table IS the serving artifact.

    Emits exact counts (cross-engine-deterministic) plus approx_ok =
    the differenced estimate landing inside the 3-sigma envelope
    propagated through the subtraction as independent errors,
    |est − exact| ≤ 3·stderr·sqrt(|A|² + |B|² + |A ∪ B|²) — the
    root-sum-of-squares form (not the ~1.7×-looser summed bound), so a
    mild sketch regression (e.g. a wrong lg_k) flips the boolean and
    hash-mismatches the oracle rather than hiding inside slack.

    Scale: one (segment, user) dedup shuffle; sketches aggregate to
    #segments rows (constant-size state each), so the pair grid is a
    broadcast self-join of a segments-sized frame — k² sketch merges of
    2^LG_K-byte registers, zero corpus rescans. The exact-intersection
    leg costs one user-keyed self-join bounded by segments-per-user²,
    and exists only to adjudicate the estimates.
    """
    ev = load_table(spark, sf_dir, "events")
    tu = tracked_persist(ev.select("event_type", "user_id").distinct())
    sk = tu.groupBy("event_type").agg(
        F.hll_sketch_agg(F.col("user_id").cast("string"), F.lit(LG_K)).alias("sk"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    a = sk.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n").alias("n_a"),
    )
    b = sk.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n").alias("n_b"),
    )
    inter = (
        tu.alias("x")
        .join(
            tu.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_exact"))
    )
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_union = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    est_inter = est_a + est_b - est_union
    stderr = _stderr(LG_K)
    grid = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    return (
        inter.join(F.broadcast(grid), ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_inter_exact",
            (
                F.abs(est_inter - F.col("n_inter_exact"))
                <= F.lit(3 * stderr)
                * F.sqrt(
                    F.col("n_a") * F.col("n_a")
                    + F.col("n_b") * F.col("n_b")
                    + F.pow(
                        F.col("n_a") + F.col("n_b") - F.col("n_inter_exact"),
                        F.lit(2.0),
                    )
                )
            ).alias("approx_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted sketch store with append epochs — the reference's merge
# operator (HLL/HyperLogLog.py:157-179) as a LAKEHOUSE ARTIFACT: build
# once, append increments, answer distinct-count questions forever from
# the stored sketches without rescanning the corpus. The ANN index sinks
# prove the layout discipline for vectors; this is the same discipline
# for the reference's own data structure.
# ---------------------------------------------------------------------------


@register(
    "sink_hll_sketch_store",
    category="sink",
    oracle="""
    WITH per_type AS (
        SELECT event_type,
               CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
                   AS n_days,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY event_type
    )
    SELECT event_type, n_days, n_exact,
           TRUE AS store_matches_direct,
           TRUE AS approx_ok
    FROM per_type
    """,
)
def sink_hll_sketch_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / append-increments / serve-many for the HLL sketch
    family: epoch 0 writes a per-(event_type, day) sketch table to
    parquet (binary DataSketches HLL column, lg_k={LG_K}); epoch 1
    APPENDS the remaining days with the base files frozen (the
    add-don't-rebuild discipline of sink_ann_index_append); the serve
    phase answers per-segment distinct-user questions by register-max
    merging the STORED sketches alone — the reference's merge operator
    (HLL/HyperLogLog.py:157-179) run against a lakehouse artifact
    instead of in-process objects.

    Two contracts are hash-checked: store_matches_direct — the estimate
    merged from stored per-day sketches must EQUAL (to the 4-dp round)
    the estimate of one directly-built per-type sketch, which holds
    exactly because HLL union is register-wise max (sketch(A ∪ B) =
    merge(sketch(A), sketch(B)) at equal lg_k — the monoid property
    tests pin the same law for the from-scratch hll64 engine); and
    approx_ok — the merged estimate lands inside the 3-sigma envelope
    of the exact per-type distinct count. The oracle pins both booleans
    TRUE plus the exact counts and day grain.

    Scale: the store is #(segment, day) rows of constant-size binary
    state — at 100 TB it is the kilobytes-per-cell summary table a
    serving tier actually queries; appends cost one scan of the NEW
    days only (epoch files are immutable), and every estimate after
    that is a metadata-scale merge with ZERO corpus rescans. The exact
    leg here exists only to adjudicate the estimates, exactly like
    hll_overlap_matrix's.
    """
    import os

    ev = load_table(spark, sf_dir, "events")
    day = F.to_date(F.date_trunc("day", "ts"))
    typed = ev.select(
        "event_type", day.alias("day"),
        F.col("user_id").cast("string").alias("uid"),
    )
    base = _store_dir(sf_dir, "events", "hll_sketch_store")
    store_path = os.path.join(base, "sketches")

    def epoch_frame(epoch: int) -> DataFrame:
        # epoch split is a pure function of the day (deterministic on
        # any corpus): roughly 3/4 of days build the base, the rest
        # arrive as the append increment
        is_append = F.pmod(F.dayofmonth("day"), F.lit(4)) == 0
        return (
            typed.filter(is_append if epoch else ~is_append)
            .groupBy("event_type", "day")
            .agg(F.hll_sketch_agg("uid", F.lit(LG_K)).alias("sk"))
            .withColumn("epoch", F.lit(epoch))
        )

    def build_into(stage: str) -> None:
        for epoch in (0, 1):
            epoch_frame(epoch).repartition(1).write.mode("append").parquet(
                os.path.join(stage, "sketches")
            )

    _build_store_atomically(base, build_into)

    # ---- serve from the persisted store only ----
    # read with the epoch frame's schema: parquet inference runs a job
    stored = (
        spark.read.schema(epoch_frame(0).schema)
        .parquet(store_path)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.hll_sketch_estimate(F.hll_union_agg("sk")), 4
            ).alias("est_store"),
        )
    )
    direct = typed.groupBy("event_type").agg(
        F.round(
            F.hll_sketch_estimate(F.hll_sketch_agg("uid", F.lit(LG_K))), 4
        ).alias("est_direct"),
        F.count_distinct("uid").cast("long").alias("n_exact"),
    )
    stderr = _stderr(LG_K)
    return stored.join(F.broadcast(direct), "event_type").select(
        "event_type",
        "n_days",
        "n_exact",
        (F.col("est_store") == F.col("est_direct")).alias("store_matches_direct"),
        (
            F.abs(F.col("est_store") - F.col("n_exact"))
            <= F.lit(3 * stderr) * F.col("n_exact")
        ).alias("approx_ok"),
    )


DD_STORE_QS = (0.5, 0.95, 0.99)  # the serving tier's p50/p95/p99


@register(
    "sink_ddsketch_store",
    category="sink",
    bench=True,
    oracle=f"""
    WITH bounds(bucket, lo, hi) AS (VALUES {_DD_VALUES_SQL}),
    cents AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        FROM events
    ),
    sk AS (
        SELECT event_type, bucket, lo, hi, COUNT(*) AS n
        FROM cents JOIN bounds ON c >= lo AND c < hi
        GROUP BY event_type, bucket, lo, hi
    ),
    days AS (
        -- day population of the STORE (bucket-joined), not of raw
        -- events: a (event_type, day) cell whose values all fall
        -- outside every bucket never reaches the persisted sketches,
        -- and Spark serves n_days from the store alone
        SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days
        FROM cents JOIN bounds ON c >= lo AND c < hi
        GROUP BY event_type
    ),
    cum AS (
        SELECT event_type, bucket, lo, hi, n,
               SUM(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum_n,
               SUM(n) OVER (PARTITION BY event_type) AS total_n
        FROM sk
    )
    SELECT event_type, q, days.n_days,
           CAST(MIN(total_n) AS BIGINT) AS total_n,
           CAST(MIN(bucket) AS BIGINT) AS bucket,
           CAST(MIN(lo) AS BIGINT) AS est_lo_cents,
           CAST(MIN(hi) AS BIGINT) AS est_hi_cents,
           TRUE AS store_matches_direct
    FROM cum JOIN days USING (event_type)
    CROSS JOIN (SELECT unnest([{", ".join(str(q) for q in DD_STORE_QS)}]) AS q)
    WHERE cum_n >= CAST(ceil(q * total_n) AS BIGINT)
    GROUP BY event_type, q, days.n_days
    """,
)
def sink_ddsketch_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DDSketch twin of sink_hll_sketch_store — the reference's
    merge discipline (HLL/HyperLogLog.py:157-179) applied to the
    OTHER mergeable sketch in this engine (sketch_ddsketch_quantiles):
    epoch 0 writes a per-(event_type, day) bucket-count table to
    parquet (bucket = γ-log-spaced integer cent range, γ=1.02); epoch 1
    APPENDS the remaining days with the base files frozen; the serve
    phase answers per-segment p50/p95/p99 by merging the STORED bucket
    counts alone — merge is plain ADDITION of counts per (segment,
    bucket), so the store is re-aggregatable to any coarser grain with
    zero corpus rescans.

    Where the HLL store's register-max merge is idempotent, DDSketch
    merge is ADDITIVE — a duplicated epoch would silently double-count,
    which is exactly why the build is staged and published by one rename
    (session._build_store_atomically: a rerun serves the published store
    and never re-appends; a failed build is never served) and why the
    streaming twin's per-batch-id epoch OVERWRITE commit is load-bearing
    (streaming/pipelines.py::ddsketch_store_epoch_writer; the parity
    test re-delivers a micro-batch and the counts must NOT move).

    Bucket assignment is pure integer comparison against ~900
    precomputed integer boundaries (no float/transcendental in the data
    path), so store-merged counts are BIT-EQUAL to a direct one-pass
    sketch — store_matches_direct is an exact per-bucket frame identity
    (null-safe count equality over a full outer join), not a tolerance
    check, and every output column (quantile bucket, cent range, day
    grain, totals) is exact-integer hash-checked against the oracle.

    Scale: the store is #(segment, day) × ≤900-bucket rows of BIGINT
    counts — kilobytes per cell; appends scan only NEW days; serving
    cost is a metadata-scale sum + a per-segment cumulative window over
    ≤900 bucket rows. At 100 TB this is the quantile rollup a telemetry
    tier actually queries.
    """
    import os

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events", spread_scan=True)
    typed = ev.select(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.round(F.col("value") * 100, 0).cast("long").alias("c"),
    )
    bounds = literal_frame(spark, _DD_ROWS, "bucket int, lo long, hi long")
    bucketed = typed.join(
        F.broadcast(bounds),
        (F.col("c") >= F.col("lo")) & (F.col("c") < F.col("hi")),
    )

    base = _store_dir(sf_dir, "events", "dd_sketch_store")
    store_path = os.path.join(base, "sketches")

    def epoch_frame(epoch: int) -> DataFrame:
        # same deterministic day split as the HLL store: ~3/4 of days
        # build the base, the rest arrive as the frozen append epoch
        is_append = F.pmod(F.dayofmonth("day"), F.lit(4)) == 0
        return (
            bucketed.filter(is_append if epoch else ~is_append)
            .groupBy("event_type", "day", "bucket", "lo", "hi")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("epoch", F.lit(epoch))
        )

    def build_into(stage: str) -> None:
        for epoch in (0, 1):
            epoch_frame(epoch).repartition(1).write.mode("append").parquet(
                os.path.join(stage, "sketches")
            )

    _build_store_atomically(base, build_into)

    # ---- serve from the persisted store only ----
    # read with the epoch frame's schema: parquet inference runs a job
    stored = spark.read.schema(epoch_frame(0).schema).parquet(store_path)
    merged = tracked_persist(
        stored.groupBy("event_type", "bucket", "lo", "hi").agg(
            F.sum("n").cast("long").alias("n")
        )
    )
    n_days = stored.groupBy("event_type").agg(
        F.count_distinct("day").cast("long").alias("n_days")
    )
    # exact per-bucket identity vs a direct one-pass sketch: integer
    # counts, so full-frame equality — a missing bucket on either side
    # fails the null-safe comparison
    direct = bucketed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_direct")
    )
    matches = (
        merged.select("event_type", "bucket", "n")
        .join(direct, ["event_type", "bucket"], "full_outer")
        .groupBy("event_type")
        .agg(
            F.bool_and(F.col("n").eqNullSafe(F.col("n_direct")))
            .alias("store_matches_direct")
        )
    )
    wcum = Window.partitionBy("event_type").orderBy("bucket")
    wtot = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type", "bucket", "lo", "hi",
        F.sum("n").over(wcum).alias("cum_n"),
        F.sum("n").over(wtot).alias("total_n"),
    )
    qs = literal_frame(spark, [(q,) for q in DD_STORE_QS], "q double")
    quantiles = (
        cum.crossJoin(F.broadcast(qs))
        .filter(F.col("cum_n") >= F.ceil(F.col("q") * F.col("total_n")))
        .groupBy("event_type", "q")
        .agg(
            F.min("total_n").cast("long").alias("total_n"),
            F.min("bucket").cast("long").alias("bucket"),
            F.min("lo").alias("est_lo_cents"),
            F.min("hi").alias("est_hi_cents"),
        )
    )
    return (
        quantiles.join(F.broadcast(n_days), "event_type")
        .join(F.broadcast(matches), "event_type")
        .select(
            "event_type", "q", "n_days", "total_n", "bucket",
            "est_lo_cents", "est_hi_cents", "store_matches_direct",
        )
    )
