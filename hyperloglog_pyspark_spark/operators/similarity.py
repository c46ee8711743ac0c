"""Similarity search over embedding columns: brute-force cosine top-k (the
exact baseline) and a random-hyperplane LSH-bucketed ANN variant (the
scale path). BASELINE.json north-star set.

Plane weights are derived from md5 at *registration* time (deterministic,
no RNG) and inlined as literals into BOTH the Spark expressions and the
DuckDB oracle SQL — the two engines compute identical buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from hyperloglog_pyspark_spark.functions.vector import (
    as_double,
    cosine_rounded_sql,
    neg_round_dot_sql,
)
from hyperloglog_pyspark_spark import registry as registry_mod
from hyperloglog_pyspark_spark.registry import (
    REGISTRY,
    checkpoint_rounds,
    register,
    tracked_persist,
)
from hyperloglog_pyspark_spark.session import _build_store_atomically, _store_dir
from hyperloglog_pyspark_spark.sources.catalog import load_table

N_QUERIES = 8  # vec_id < 8 act as query vectors
TOP_K = 10
EMB_DIM = 64
N_PLANES = 6  # 2^6 = 64 LSH buckets


def _plane_weight(p: int, d: int) -> float:
    """Deterministic pseudo-random weight in [-1, 1] from md5 — no RNG, so
    Spark literals and oracle SQL literals are identical by construction."""
    h = int(hashlib.md5(f"plane{p}d{d}".encode()).hexdigest()[:8], 16)
    return (h % 2001 - 1000) / 1000.0


PLANES = [[_plane_weight(p, d) for d in range(EMB_DIM)] for p in range(N_PLANES)]


def _bucket_expr_spark(emb_sql: str):
    """LSH bucket id: bit p = sign(dot(embedding, plane_p)). ``emb_sql``
    names an array<double> column (or a SQL expression producing one).
    Built as ONE SQL string parsed JVM-side: composing N_PLANES × dim
    literals as Column objects costs ~400 py4j round-trips and ~0.9 s of
    driver time per plan build (measured). The ``D`` suffix keeps the
    plane weights DOUBLE (bare decimal literals parse as DECIMAL), and
    repr() round-trips each weight exactly, so the arithmetic is
    bit-identical to the previous Column form and to the oracle."""
    parts = []
    for p, plane in enumerate(PLANES):
        lit = ", ".join(f"{x!r}D" for x in plane)
        dsum = (
            f"aggregate(zip_with({emb_sql}, array({lit}), (x, y) -> x * y), "
            f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        parts.append(f"(CASE WHEN {dsum} > 0 THEN {1 << p} ELSE 0 END)")
    return F.expr(" + ".join(parts))


def _bucket_expr_sql(emb: str) -> str:
    parts = []
    for p, plane in enumerate(PLANES):
        lit = "[" + ",".join(repr(x) for x in plane) + "]"
        parts.append(f"(CASE WHEN list_dot_product({emb}::DOUBLE[], {lit}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(parts)


@register(
    "similarity_topk_bruteforce",
    category="similarity",
    bench=True,
    oracle=f"""
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               CAST(round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) AS DOUBLE) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                            c.vec_id
               ) AS rank
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k per query vector: broadcast the (small) query set
    against the corpus, per-query window top-k.

    Scale: brute force is O(|Q|·N) — fine for small query batches even at
    large N because the corpus side streams (no shuffle of the corpus;
    queries broadcast). For large |Q|, switch to similarity_ann_lsh.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _bruteforce_topk(
        emb.select("vec_id", as_double("embedding").alias("e"))
    )


def _bruteforce_topk(base: DataFrame) -> DataFrame:
    """Exact cosine top-k from a prepared (vec_id, e) frame — the body of
    similarity_topk_bruteforce, factored out so similarity_recall_report
    can run both its legs off ONE persisted corpus frame instead of
    re-scanning embeddings per leg."""
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    c = base.select("vec_id", F.col("e").alias("ce"))
    cos = F.expr(cosine_rounded_sql("qe", "ce", 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        F.broadcast(q)
        .join(c, F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


_PROBE_MASKS = [0] + [1 << p for p in range(N_PLANES)]  # exact bucket + 1-bit flips


@register(
    "similarity_ann_lsh",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH bucketed AS (
        SELECT vec_id, embedding, {_bucket_expr_sql("embedding")} AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT q.vec_id AS query_id, q.embedding AS qe,
               xor(q.bucket, m.m) AS probe_bucket
        FROM (SELECT * FROM bucketed WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN (SELECT unnest({_PROBE_MASKS}) AS m) m
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT p.query_id, c.vec_id,
               CAST(round(list_cosine_similarity(p.qe::DOUBLE[], c.embedding::DOUBLE[]), 4) AS DOUBLE) AS cos_sim,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_cosine_similarity(p.qe::DOUBLE[], c.embedding::DOUBLE[]), 4) DESC,
                            c.vec_id
               ) AS rank
        FROM probes p
        JOIN bucketed c ON c.bucket = p.probe_bucket AND c.vec_id <> p.query_id
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors: random-hyperplane LSH buckets with
    multi-probe (the query's bucket plus every 1-bit-flip neighbor), exact
    cosine re-ranking over the probed candidates only.

    Scale: candidate generation is an equi-join of (query × probes)
    against the bucketed corpus — the corpus is scanned once to bucket;
    only probed-bucket pairs are scored. Multi-probe buys recall without
    more planes; recall vs the exact baseline is asserted in tests
    (uniform-random embeddings are LSH's worst case, so the bar there is
    modest by construction).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        as_double("embedding").alias("e"),
        _bucket_expr_spark("CAST(embedding AS ARRAY<DOUBLE>)").alias("bucket"),
    )
    return _ann_lsh_topk(bucketed)


def _ann_lsh_topk(bucketed: DataFrame) -> DataFrame:
    """Multi-probe LSH top-k from a prepared (vec_id, e, bucket) frame —
    the body of similarity_ann_lsh, factored out for the same shared-
    frame reason as ``_bruteforce_topk``."""
    probes = (
        bucketed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("e").alias("qe"),
            F.explode(F.array(*[F.col("bucket").bitwiseXOR(m) for m in _PROBE_MASKS])).alias(
                "probe_bucket"
            ),
        )
    )
    c = bucketed.select("vec_id", F.col("e").alias("ce"), "bucket")
    cos = F.expr(cosine_rounded_sql("qe", "ce", 4))
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        F.broadcast(probes)
        .join(c, (F.col("bucket") == F.col("probe_bucket")) & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
    )


N_CENT_MOD = 100  # vec_id % 100 == 0 → deterministic centroid subset
N_PROBES = 2


@register(
    "similarity_ivf",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS ce FROM embeddings
        WHERE vec_id % {N_CENT_MOD} = 0
    ),
    scored AS (
        SELECT e.vec_id, e.embedding AS ev, c.cent_id,
               round(list_dot_product(e.embedding::DOUBLE[], c.ce::DOUBLE[]), 4) AS score
        FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
        SELECT vec_id, ev, cent_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cent_id) AS rn
            FROM scored
        ) WHERE rn = 1
    ),
    qprobe AS (
        SELECT vec_id AS query_id, ev AS qe, cent_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cent_id) AS rn
            FROM scored WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBES}
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT q.query_id, a.vec_id,
               CAST(round(list_cosine_similarity(q.qe::DOUBLE[], a.ev::DOUBLE[]), 4) AS DOUBLE) AS cos_sim,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY round(list_cosine_similarity(q.qe::DOUBLE[], a.ev::DOUBLE[]), 4) DESC,
                            a.vec_id
               ) AS rank
        FROM qprobe q JOIN assign a ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic centroid subset (vec_id % 100 == 0,
    standing in for k-means — the partition/probe mechanics are identical),
    every vector assigned to its nearest centroid by dot product, queries
    probe their 2 nearest centroid lists, exact cosine re-rank inside.

    Scale: scoring happens inside a whole-stage-codegen projection over
    a broadcast of the tiny centroid table; assignment is a map-side-
    partial min(struct) argmin, so the one corpus exchange carries ONE
    row per vector — the pre-r7 form shuffled corpus × n_cent scored
    rows through a per-vector window with no partial aggregation. The
    inverted lists ARE a partitioning of the corpus, so a probe reads
    |corpus|/n_cent · n_probes vectors instead of all of them. At
    100 TB the assignment output is written bucketed by cent_id, making
    each probe a pruned scan.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # centroid subset persisted: the modulo filter can't push to parquet,
    # so the assignment and probe legs would otherwise re-scan the full
    # corpus to rebuild a |corpus|/100-sized frame
    cent = tracked_persist(
        emb.filter(F.col("vec_id") % N_CENT_MOD == 0).select(
            F.col("vec_id").alias("cent_id"), as_double("embedding").alias("ce")
        )
    )
    # (−score, cent_id) ascending == (score DESC, cent_id ASC): negation
    # of the ROUNDED score is IEEE-exact and symmetric, so min(struct) /
    # ORDER BY ns matches the oracle's ROW_NUMBER tie-break bit-for-bit.
    # The 4dp rounding BEFORE ranking is the module's round-before-rank
    # discipline (functions/vector.py): it absorbs last-ulp
    # accumulation-order differences between Spark's left-fold dot and
    # whatever summation order a future DuckDB list_dot_product uses —
    # without it, a sub-ulp score tie could assign a vector to different
    # centroids on the two engines
    scored = (
        emb.select("vec_id", as_double("embedding").alias("ev"))
        .crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "ev",
            "cent_id",
            F.expr(neg_round_dot_sql("ev", "ce", 4)).alias("ns"),
        )
    )
    assign = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("ns", "cent_id")).alias("b"), F.max("ev").alias("ev"))
        .select("vec_id", "ev", F.col("b.cent_id").alias("cent_id"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("ns", "cent_id")
    qprobe = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("ev").alias("qe"),
            F.col("cent_id").alias("probe_cent"),
        )
    )
    cos = F.expr(cosine_rounded_sql("qe", "ev", 4))
    w_rank = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        F.broadcast(qprobe)
        .join(assign, F.col("probe_cent") == F.col("cent_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "embedding_norm_quant",
    category="similarity",
    oracle="""
    WITH e AS (
        SELECT label,
               sqrt(list_aggregate(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS l2
        FROM embeddings
    ),
    q AS (
        SELECT label, l2,
               CAST(round(l2, 9) AS DECIMAL(18,9)) AS l2_dec
        FROM e
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(CAST(SUM(l2_dec) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_l2,
           CAST(round(MIN(l2), 6) AS DOUBLE) AS min_l2,
           CAST(round(MAX(l2), 6) AS DOUBLE) AS max_l2
    FROM q
    GROUP BY label
    """,
)
def embedding_norm_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding hygiene profiling per label: L2-norm statistics over the
    vector column — the pre-flight check before normalization/int8
    quantization of an embedding corpus (zero-norm vectors, norm outliers,
    scale drift between labels).

    Scale: per-row norms are higher-order aggregate() expressions (JVM
    codegen, no Python); the per-label rollup is an ordinary partial+final
    aggregation. Exact-sum discipline: per-row norms round to DECIMAL(18,9)
    before SUM so the cross-row average is order-independent — the same
    trick lets 1000 executors produce bit-identical results.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    l2 = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    per = emb.select("label", l2.alias("l2"), F.round(l2, 9).cast("decimal(18,9)").alias("l2_dec"))
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum("l2_dec").cast("double") / F.count(F.lit(1))).alias("avg_l2"),
        F.round(F.min("l2"), 6).cast("double").alias("min_l2"),
        F.round(F.max("l2"), 6).cast("double").alias("max_l2"),
    )


@register(
    "embedding_quantize_int8",
    category="similarity",
    oracle="""
    WITH s AS (
        SELECT vec_id, label, embedding,
               list_aggregate(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)) AS qvec,
               maxabs
        FROM s WHERE maxabs > 0
    ),
    err AS (
        SELECT vec_id, label,
               list_aggregate(qvec, 'min') AS q_min,
               list_aggregate(qvec, 'max') AS q_max,
               list_aggregate(
                   list_transform(range(1, len(qvec) + 1),
                        i -> abs(CAST(qvec[i] AS DOUBLE) * maxabs / 127.0
                                 - CAST(embedding[i] AS DOUBLE))), 'sum') / len(qvec) AS mae
        FROM q JOIN embeddings USING (vec_id, label)
    )
    SELECT label,
           CAST(MIN(q_min) AS BIGINT) AS q_min,
           CAST(MAX(q_max) AS BIGINT) AS q_max,
           CAST(CAST(SUM(CAST(round(mae, 9) AS DECIMAL(18,9))) AS DOUBLE)
                / COUNT(*) AS DOUBLE) AS avg_mae
    FROM err
    GROUP BY label
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scaling, the llm.int8/FAISS SQ8 recipe) with reconstruction-
    error audit: quantized range sanity (must stay in [-127, 127]) and
    mean absolute dequantization error per label.

    Scale: quantization is transform()/aggregate() higher-order expressions
    — elementwise, no shuffle; int8 vectors are 4x smaller than float32,
    which at 100 TB is the difference between spilling and an in-memory
    ANN probe. The error rollup uses the decimal exact-sum discipline.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    # only label/vd/maxabs feed the error rollup — carrying vec_id or the
    # raw float vector would double the per-row payload for nothing
    s = emb.select(
        "label",
        v.alias("vd"),
        F.array_max(F.transform(v, lambda x: F.abs(x))).alias("maxabs"),
    ).filter(F.col("maxabs") > 0)
    q = s.withColumn(
        "qvec", F.transform("vd", lambda x: F.round(x * 127.0 / F.col("maxabs")).cast("bigint"))
    )
    err = q.select(
        "label",
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
        (
            F.aggregate(
                F.zip_with("qvec", "vd", lambda qi, xi: F.abs(qi.cast("double") * F.col("maxabs") / 127.0 - xi)),
                F.lit(0.0),
                lambda a, x: a + x,
            )
            / F.size("qvec")
        ).alias("mae"),
    )
    return err.groupBy("label").agg(
        F.min("q_min").alias("q_min"),
        F.max("q_max").alias("q_max"),
        (F.sum(F.round("mae", 9).cast("decimal(18,9)")).cast("double") / F.count(F.lit(1))).alias("avg_mae"),
    )


@register(
    "similarity_recall_report",
    category="similarity",
    oracle=f"""
    WITH bf AS (
        SELECT * FROM ({REGISTRY["similarity_topk_bruteforce"].oracle}) t
    ),
    ann AS (
        SELECT * FROM ({REGISTRY["similarity_ann_lsh"].oracle}) t
    )
    SELECT bf.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(ann.vec_id) AS BIGINT) AS n_hits,
           CAST(round(COUNT(ann.vec_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS recall
    FROM bf LEFT JOIN ann ON bf.query_id = ann.query_id AND bf.vec_id = ann.vec_id
    GROUP BY bf.query_id
    """,
)
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation as a first-class operator: recall@k of the
    multi-probe LSH path against the exact brute-force top-k, per query
    vector — the monitoring query every production ANN deployment runs on
    a sampled query set to catch index drift.

    Scale: both sides reuse the registered constructions (broadcast
    queries, bucketed candidates), but run off ONE persisted corpus
    frame (vec_id, e, bucket) — without it each leg re-scans and
    re-normalizes the embeddings table (4 fact-scan sites through r6).
    The comparison itself is a join on (query, candidate) over two
    k-row-per-query sets — negligible next to the searches it audits.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base = tracked_persist(
        emb.select(
            "vec_id",
            as_double("embedding").alias("e"),
            _bucket_expr_spark("CAST(embedding AS ARRAY<DOUBLE>)").alias("bucket"),
        )
    )
    bf = _bruteforce_topk(base).select("query_id", "vec_id")
    ann = _ann_lsh_topk(base).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ann, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).cast("double").alias("recall"),
        )
    )


PQ_M = 4                      # product-quantization subspaces
PQ_SUBDIM = EMB_DIM // PQ_M   # dims per subspace
PQ_K = 8                      # centroids per subspace

# Shared oracle CTE chain: deterministic md5-seeded centroids, subvector
# explode, L2 distances (rounded 4dp before ranking), nearest-centroid
# assignment. Both PQ queries' oracles build on this so the two engines —
# and the two queries — share one codebook definition.
_PQ_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    seeds AS (
        SELECT vec_id AS seed_vec_id, e AS ce
        FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}
    ),
    ms AS (SELECT CAST(unnest(range(0, {PQ_M})) AS INT) AS m),
    cent AS (
        SELECT seed_vec_id, m,
               list_slice(ce, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS cv
        FROM seeds CROSS JOIN ms
    ),
    vecs AS (
        SELECT vec_id, m,
               list_slice(e, m * {PQ_SUBDIM} + 1, m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS sv
        FROM e CROSS JOIN ms
    ),
    d AS (
        SELECT v.vec_id, v.m, c.seed_vec_id,
               ROUND(list_sum(list_transform(list_zip(v.sv, c.cv),
                                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) AS d2
        FROM vecs v JOIN cent c ON c.m = v.m
    ),
    a AS (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2, seed_vec_id) AS rn
        FROM d
    )"""


def _pq_centroids(emb: DataFrame) -> DataFrame:
    """(seed_vec_id, m, cv): md5-seeded deterministic codebook — PQ_K seed
    vectors (TakeOrdered, no global sort materialized) sliced into PQ_M
    subspace centroids. A production index k-means-refines these seeds;
    the encode/search machinery is unchanged by refinement."""
    seeds = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("seed_vec_id"), F.col("e").alias("ce"))
    )
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    return seeds.select("seed_vec_id", "ce", ms).select(
        "seed_vec_id",
        F.col("m").cast("int").alias("m"),
        F.expr(f"slice(ce, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("cv"),
    )


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sv): every embedding exploded into its PQ_M subvectors."""
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    return emb.select("vec_id", "e", ms).select(
        "vec_id",
        F.col("m").cast("int").alias("m"),
        F.expr(f"slice(e, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM})").alias("sv"),
    )


def _pq_d2(sub_col: str, cent_col: str):
    """Rounded (4dp) squared-L2 between two subvector columns — rounding
    before any ranking absorbs engine accumulation-order ulps."""
    return F.round(
        F.aggregate(
            F.zip_with(sub_col, cent_col, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        4,
    )


def _pq_codes(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, m, seed_vec_id, d2): nearest-centroid assignment — the PQ
    encode pass. Broadcast the M×K centroid table onto N×M subvector rows
    (linear in the corpus); argmin is a row_number over a K-row group."""
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "seed_vec_id")
    return (
        vecs.join(F.broadcast(cent), "m")
        .select("vec_id", "m", "seed_vec_id", _pq_d2("sv", "cv").alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "similarity_pq_codebook",
    category="similarity",
    oracle=f"""
    WITH {_PQ_CTES}
    SELECT m, seed_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           ROUND(CAST(SUM(CAST(d2 AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*), 6)
               AS mean_qerr
    FROM a WHERE rn = 1
    GROUP BY m, seed_vec_id
    """,
)
def similarity_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook assignment: split each embedding into
    4 subspaces of 16 dims, assign every subvector to its nearest of 8
    per-subspace centroids (L2, deterministic md5-seeded centroid choice,
    seed id as tie-break), and report cluster occupancy + mean
    quantization error per (subspace, centroid) — the codebook-health
    table behind an IVF-PQ index.

    Scale: the encode pass is a broadcast join of the (M × K) centroid
    table onto N × M subvector rows — linear in the corpus; error means
    use decimal sums so the report hash-matches the oracle."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    codes = _pq_codes(_pq_subvectors(emb), _pq_centroids(emb))
    n = F.count(F.lit(1))
    return codes.groupBy("m", "seed_vec_id").agg(
        n.cast("long").alias("n_assigned"),
        F.round(
            F.sum(F.col("d2").cast("decimal(14,4)")).cast("double") / n, 6
        ).alias("mean_qerr"),
    )


@register(
    "similarity_pq_adc_topk",
    category="similarity",
    oracle=f"""
    WITH {_PQ_CTES},
    codes AS (SELECT vec_id, m, seed_vec_id FROM a WHERE rn = 1),
    qsub AS (
        SELECT vec_id AS query_id, m, sv FROM vecs WHERE vec_id < {N_QUERIES}
    ),
    lut AS (
        SELECT q.query_id, c.m, c.seed_vec_id,
               ROUND(list_sum(list_transform(list_zip(q.sv, c.cv),
                                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) AS qd2
        FROM qsub q JOIN cent c ON c.m = q.m
    ),
    scored AS (
        SELECT l.query_id, k.vec_id,
               SUM(CAST(l.qd2 AS DECIMAL(14,4))) AS adc
        FROM codes k
        JOIN lut l ON l.m = k.m AND l.seed_vec_id = k.seed_vec_id
        GROUP BY l.query_id, k.vec_id
    )
    SELECT query_id, vec_id, CAST(adc AS DOUBLE) AS adc_d2, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc, vec_id) AS rank
        FROM scored WHERE vec_id <> query_id
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ codes: each query
    precomputes a (subspace × centroid) lookup table of exact
    query-to-centroid distances, and a corpus vector's approximate
    distance is just the SUM of M table lookups selected by its stored
    code — no corpus embedding is ever touched at query time. This is the
    search half of an IVF-PQ index (similarity_pq_codebook is the encode
    half); same query/corpus conventions as similarity_topk_bruteforce.

    Scale: the corpus side carries only its M small codes (bytes per
    vector instead of the raw embedding); the per-query LUT is |Q|·M·K
    rows, broadcast; scoring is one aggregation over N·M lookup rows and
    the top-k is a per-query window. Lookup components are rounded 4dp
    and summed as decimals, so the ranking is order-independent and
    hash-matches."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    # cent (M x K rows, but a TakeOrdered over the corpus to build) feeds
    # both the encode pass and the query LUT — persist so the seed scan
    # runs once. The query subvectors come from a vec_id-pruned scan
    # (pushdown filter), not a second full corpus explode.
    cent = tracked_persist(_pq_centroids(emb))
    codes = _pq_codes(_pq_subvectors(emb), cent).select("vec_id", "m", "seed_vec_id")
    qsub = _pq_subvectors(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv")
    )
    lut = qsub.join(F.broadcast(cent), "m").select(
        "query_id", "m", "seed_vec_id", _pq_d2("qv", "cv").alias("qd2")
    )
    scored = (
        codes.join(F.broadcast(lut), ["m", "seed_vec_id"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("qd2").cast("decimal(14,4)")).alias("adc"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.col("adc").cast("double").alias("adc_d2"), "rank")
    )


# IVF coarse-quantizer oracle CTEs — deterministic modular centroid
# subset, rounded-dot assignment, per-query N_PROBES cell probe. Shared
# by both composed IVF-PQ variants (non-residual and residual); assumes
# a CTE `e(vec_id, e)` is already in scope.
_IVF_CTES = f"""icent AS (
        SELECT vec_id AS cent_id, e AS ce FROM e WHERE vec_id % {N_CENT_MOD} = 0
    ),
    iscored AS (
        SELECT v.vec_id, c.cent_id,
               round(list_dot_product(v.e, c.ce), 4) AS score
        FROM e v CROSS JOIN icent c
    ),
    iassign AS (
        SELECT vec_id, cent_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cent_id) AS rn
            FROM iscored
        ) WHERE rn = 1
    ),
    iqprobe AS (
        SELECT vec_id AS query_id, cent_id FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY score DESC, cent_id) AS rn
            FROM iscored WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBES}
    )"""


def _ivf_coarse(emb: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(icent, iassign, iqprobe) — the IVF coarse quantizer's three
    frames, shared by the composed IVF-PQ variants. ``icent`` (the
    centroid subset) and ``iassign`` (one (vec_id, cent_id) row per
    vector) are persisted: they ARE the materialized coarse index —
    without the caches the corpus × centroid scoring pass re-executes
    under every consumer. ``iqprobe`` is the per-query N_PROBES cell
    probe (query rows only, derived from the same scored frame)."""
    icent = tracked_persist(
        emb.filter(F.col("vec_id") % N_CENT_MOD == 0).select(
            F.col("vec_id").alias("cent_id"), F.col("e").alias("ce")
        )
    )
    iscored = emb.crossJoin(F.broadcast(icent)).select(
        "vec_id",
        "cent_id",
        F.expr(neg_round_dot_sql("e", "ce", 4)).alias("ns"),
    )
    iassign = tracked_persist(
        iscored.groupBy("vec_id")
        .agg(F.min(F.struct("ns", "cent_id")).alias("b"))
        .select("vec_id", F.col("b.cent_id").alias("cent_id"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy("ns", "cent_id")
    # persisted (|Q|·N_PROBES rows): the residual variant consumes the
    # probe list twice (query-residual build + candidate join) — without
    # the cache each consumer re-runs the corpus × centroid scoring pass
    iqprobe = tracked_persist(
        iscored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= N_PROBES)
        .select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("probe_cent"))
    )
    return icent, iassign, iqprobe


@register(
    "similarity_ivf_pq_topk",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH {_PQ_CTES},
    codes AS (SELECT vec_id, m, seed_vec_id FROM a WHERE rn = 1),
    {_IVF_CTES},
    candidates AS (
        SELECT q.query_id, a.vec_id
        FROM iqprobe q JOIN iassign a ON a.cent_id = q.cent_id
        WHERE a.vec_id <> q.query_id
    ),
    qsub AS (
        SELECT vec_id AS query_id, m, sv FROM vecs WHERE vec_id < {N_QUERIES}
    ),
    lut AS (
        SELECT q.query_id, c.m, c.seed_vec_id,
               ROUND(list_sum(list_transform(list_zip(q.sv, c.cv),
                                             p -> (p[1] - p[2]) * (p[1] - p[2]))), 4) AS qd2
        FROM qsub q JOIN cent c ON c.m = q.m
    ),
    scored AS (
        SELECT cd.query_id, cd.vec_id, SUM(CAST(l.qd2 AS DECIMAL(14,4))) AS adc
        FROM candidates cd
        JOIN codes k ON k.vec_id = cd.vec_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.m = k.m AND l.seed_vec_id = k.seed_vec_id
        GROUP BY cd.query_id, cd.vec_id
    )
    SELECT query_id, vec_id, CAST(adc AS DOUBLE) AS adc_d2, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN — the FAISS-production index shape, built
    from the engine's two halves: the IVF coarse quantizer
    (similarity_ivf's nearest-centroid partition + N_PROBES cell probe)
    restricts WHICH vectors are scored, and PQ asymmetric distance
    (similarity_pq_adc_topk's per-query LUT over stored codes) scores
    them WITHOUT touching any raw corpus embedding at query time. This
    non-residual variant (FAISS by_residual=false) keeps one global
    codebook, so the codes are exactly similarity_pq_adc_topk's and the
    composition is pure restriction — the oracle composes both queries'
    CTE families verbatim.

    Scale: the two index passes are the BUILD phase (coarse assignment:
    broadcast centroid argmin, one row per vector; PQ encode: broadcast
    M×K codebook, linear) — at 100 TB both are written once, bucketed
    by cent_id. At query time the probe prunes the corpus to
    |corpus|/n_cells · n_probes candidates, each carrying M small codes
    instead of the embedding; scoring is the broadcast-LUT aggregation
    over candidates only. Neither the full corpus nor any raw vector
    crosses the query-time exchange — the property that makes
    billion-vector search serve from an index a single rack holds."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    # coarse quantizer: icent + the materialized per-vector assignment
    # are persisted inside _ivf_coarse (shared with the residual variant;
    # the non-residual search needs only the assignment and the probes)
    _, iassign, iqprobe = _ivf_coarse(emb)
    candidates = (
        F.broadcast(iqprobe)
        .join(iassign, F.col("probe_cent") == F.col("cent_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    # PQ index: persisted codebook feeds the encode pass and the query LUT
    cent = tracked_persist(_pq_centroids(emb))
    codes = _pq_codes(_pq_subvectors(emb), cent).select("vec_id", "m", "seed_vec_id")
    qsub = _pq_subvectors(emb.filter(F.col("vec_id") < N_QUERIES)).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv")
    )
    lut = qsub.join(F.broadcast(cent), "m").select(
        "query_id", "m", "seed_vec_id", _pq_d2("qv", "cv").alias("qd2")
    )
    scored = (
        candidates.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "m", "seed_vec_id"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum(F.col("qd2").cast("decimal(14,4)")).alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.col("adc").cast("double").alias("adc_d2"), "rank")
    )


@register(
    "similarity_ivf_pq_recall",
    category="similarity",
    oracle=f"""
    WITH bf AS (
        SELECT * FROM ({{BF}}) t
    ),
    ipq AS (
        SELECT * FROM ({{IPQ}}) t
    )
    SELECT bf.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(ipq.vec_id) AS BIGINT) AS n_hits,
           CAST(round(COUNT(ipq.vec_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS recall
    FROM bf LEFT JOIN ipq ON bf.query_id = ipq.query_id AND bf.vec_id = ipq.vec_id
    GROUP BY bf.query_id
    """.format(
        BF=REGISTRY["similarity_topk_bruteforce"].oracle,
        IPQ=REGISTRY["similarity_ivf_pq_topk"].oracle,
    ),
)
def similarity_ivf_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the composed IVF-PQ index against the exact cosine
    brute force, per query — the drift monitor a production IVF-PQ
    deployment runs on a sampled query set. Recall here compounds BOTH
    approximations at once (the probe's cell misses AND the PQ code's
    quantization reranking), which is exactly what the serving system
    experiences; similarity_recall_report monitors the LSH path the
    same way.

    Reading the number: the synthetic embeddings are UNIFORM RANDOM —
    the worst case for any partitioned index, where true neighbors are
    uncorrelated with coarse cells and expected recall degenerates to
    the probed fraction (~n_probes / n_cells ≈ 0.1 here, observed).
    On real clustered embeddings the coarse quantizer is what makes
    recall >> probed-fraction; this report exists to MEASURE that gap,
    and the testdata value is its honest floor (same argument as
    test_ann_recall_floor).

    Scale: both legs reuse the registered constructions (the index's
    persisted assignment/codebook, the brute force's broadcast query
    block); the comparison is a join over two k-row-per-query sets —
    negligible next to the searches it audits."""
    emb = load_table(spark, sf_dir, "embeddings")
    # persisted: the brute-force leg reads this frame in BOTH its roles
    # (broadcast query block + corpus side) — same discipline as
    # similarity_recall_report's shared base
    base = tracked_persist(
        emb.select("vec_id", as_double("embedding").alias("e"))
    )
    bf = _bruteforce_topk(base).select("query_id", "vec_id")
    ipq = similarity_ivf_pq_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ipq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).cast("double").alias("recall"),
        )
    )


CENT_SCALE = 1000  # element milli-units: exact BIGINT arithmetic throughout


def as_milli(col: str | Column) -> Column:
    """``array<long>`` milli-unit embedding: floor(x·CENT_SCALE + 0.5)
    after a cast to DOUBLE (the float32→double cast must happen BEFORE
    scaling; single-precision scaling rounds differently and broke the
    oracle hash at sf0.1). ``_km_el_sql`` is its per-element oracle twin.
    Operators that pair vectors keep the whole vector in one row and
    compute dots with ``dot_long`` (zip_with/aggregate — JVM codegen),
    so their shuffles carry N rows instead of N·dim element rows.

    String inputs parse the whole transform in ONE ``expr()`` round-trip
    (round-15 py4j-chatter diet; Column inputs keep the algebra path)."""
    if isinstance(col, str):
        return F.expr(
            f"transform(cast({col} AS array<double>),"
            f" x -> cast(floor(x * {CENT_SCALE}D + 0.5D) AS bigint))"
        )
    return F.transform(
        as_double(col),
        lambda x: F.floor(x * CENT_SCALE + F.lit(0.5)).cast("long"),
    )


def _label_centroid_arrays(ev: DataFrame, out_key: str) -> DataFrame:
    """Label-seeded integer centroids as ARRAYS (out_key, cv) from a
    milli-unit vector frame ``(vec_id, label, mv)``: exact BIGINT
    element sums, floor(s/n + 0.5) rounding — bit-identical to the
    oracle's per-(label, i) CTE. The element explode here feeds only the
    centroid build (labels × dim rows out, one map-side partial agg in);
    vectors themselves are never exploded, and everything reads through
    the persisted ``ev`` cache so the build adds ZERO fact-scan sites."""
    cent_el = (
        ev.select("label", F.posexplode("mv").alias("i", "e"))
        .groupBy("label", "i")
        .agg(F.sum("e").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "i",
            F.floor(F.col("s") * 1.0 / F.col("n") + F.lit(0.5)).cast("long").alias("c"),
        )
    )
    return (
        cent_el.groupBy("label")
        .agg(F.expr("array_sort(collect_list(struct(i, c))) AS ic"))
        .selectExpr(f"label AS {out_key}", "transform(ic, s -> s.c) AS cv")
    )


def _centroid_set(cent: DataFrame, key: str = "k") -> DataFrame:
    """Collapse a (key, cv) centroid-array frame into ONE broadcastable
    row holding array<struct<k, cv>> sorted by key. The whole model ships
    to every task, so nearest-centroid assignment becomes a
    BroadcastNestedLoopJoin against a single row plus a per-row argmin —
    ZERO shuffles of the vector corpus."""
    return cent.groupBy().agg(
        F.expr(f"array_sort(collect_list(struct({key} AS k, cv))) AS cents")
    )


def _nearest_centroid(mv: str = "mv") -> Column:
    """struct(d2, k) of the nearest centroid in the broadcast ``cents``
    array: exact integer Σ(a−b)² per candidate (nested zip_with /
    aggregate — JVM codegen), argmin via array_min's struct ordering,
    which is (d2 ASC, k ASC) — the oracle's ROW_NUMBER tie-break.

    Takes the vector column as SQL text and parses the WHOLE argmin in
    ONE ``expr()`` round-trip: the old Column-algebra build (nested
    zip_with/aggregate lambdas per candidate) cost ~60 py4j calls per
    use — measured as a visible slice of per-rep driver time in the
    round-15 profiling (guide §7.3: planning cost is real cost)."""
    return F.expr(
        f"array_min(transform(cents, c -> struct("
        f"aggregate(zip_with({mv}, c.cv, (a, b) -> (a - b) * (a - b)), 0L,"
        f" (acc, x) -> acc + x) AS d2, c.k AS k)))"
    )


def _km_el_sql() -> str:
    return f"""
        SELECT vec_id, label, i,
               CAST(FLOOR(CAST(list_extract(embedding, i) AS DOUBLE) * {CENT_SCALE} + 0.5) AS BIGINT) AS e
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, {EMB_DIM + 1})) AS i)"""


@register(
    "embedding_centroid_confusion",
    category="similarity",
    oracle=f"""
    WITH el AS ({_km_el_sql()}),
    sizes AS (SELECT label, COUNT(DISTINCT vec_id) AS n FROM el GROUP BY label),
    cent AS (
        SELECT el.label AS c_label, i,
               CAST(FLOOR(SUM(e) * 1.0 / MIN(n) + 0.5) AS BIGINT) AS c
        FROM el JOIN sizes ON sizes.label = el.label
        GROUP BY el.label, i
    ),
    dist AS (
        SELECT el.vec_id, el.label, cent.c_label,
               SUM((el.e - cent.c) * (el.e - cent.c)) AS d2
        FROM el JOIN cent USING (i)
        GROUP BY el.vec_id, el.label, cent.c_label
    ),
    assigned AS (
        SELECT vec_id, label, c_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d2 ASC, c_label ASC) AS rn
        FROM dist
    )
    SELECT CAST(label AS INTEGER) AS true_label,
           CAST(c_label AS INTEGER) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned WHERE rn = 1
    GROUP BY label, c_label
    """,
)
def embedding_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of every embedding against its
    label centroids, reported as a confusion matrix — the clustering-
    quality / label-coherence check run before trusting embedding labels
    for blocking or stratification (a diagonal-heavy matrix means labels
    match embedding geometry; an off-diagonal hotspot flags a mislabeled
    or overlapping cluster).

    Bit-determinism: elements are scaled to integer milli-units
    (floor(x·1000 + 0.5) — no ROUND-tie ambiguity), centroids are
    integer-rounded means of exact BIGINT sums, and distances are exact
    integer Σ(e−c)² — the argmin cannot drift between engines, and ties
    break on the smaller label.

    Scale: vectors stay ARRAY-NATIVE (milli-unit array<long>); the whole
    #labels-row centroid model collapses into one broadcast row, so
    assignment is a BroadcastNestedLoopJoin + per-row array_min argmin —
    ZERO shuffles of the corpus; the only exchange is the final
    (true, pred) count's map-side-partial aggregation. The same shape is
    the Lloyd-iteration assignment step, so this is also the k-means
    building block (seeded by label centroids).
    """
    # spread_scan: the single-row-group scan plans to ONE task, which
    # would serialize the interpreted nearest-centroid pass; the
    # repartition lives inside the cache build (post-cache plan unchanged)
    emb = load_table(spark, sf_dir, "embeddings", spread_scan=True)
    ev = tracked_persist(
        emb.select("vec_id", "label", as_milli("embedding").alias("mv"))
    )
    cent = _label_centroid_arrays(ev, "k")
    best = _nearest_centroid("mv")
    return (
        ev.crossJoin(F.broadcast(_centroid_set(cent)))
        .select(
            F.col("label").cast("int").alias("true_label"),
            best["k"].cast("int").alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


KM_ITERS = 2  # Lloyd rounds before the final assignment


def _kmeans_oracle() -> str:
    """Unrolled Lloyd iterations as CTE stages (the PageRank-oracle
    pattern): label-seeded integer centroids, per-round exact-integer
    assignment + floor-rounded centroid update (empty clusters keep their
    previous centroid), then a final assignment scored for inertia."""
    sql = f"""
    WITH el AS ({_km_el_sql()}),
    sizes AS (SELECT label, COUNT(DISTINCT vec_id) AS n FROM el GROUP BY label),
    cent0 AS (
        SELECT el.label AS k, i,
               CAST(FLOOR(SUM(e) * 1.0 / MIN(n) + 0.5) AS BIGINT) AS c
        FROM el JOIN sizes ON sizes.label = el.label
        GROUP BY el.label, i
    )"""
    prev = "cent0"
    for t in range(1, KM_ITERS + 1):
        sql += f""",
    a{t} AS (
        SELECT vec_id, k FROM (
            SELECT el.vec_id, {prev}.k,
                   ROW_NUMBER() OVER (PARTITION BY el.vec_id
                       ORDER BY SUM((el.e - {prev}.c) * (el.e - {prev}.c)) ASC,
                                {prev}.k ASC) AS rn
            FROM el JOIN {prev} USING (i)
            GROUP BY el.vec_id, {prev}.k
        ) WHERE rn = 1
    ),
    cent{t} AS (
        SELECT p.k, p.i,
               CAST(COALESCE(FLOOR(s.se * 1.0 / s.n + 0.5), p.c) AS BIGINT) AS c
        FROM {prev} p
        LEFT JOIN (
            SELECT a{t}.k, el.i, SUM(el.e) AS se, COUNT(DISTINCT el.vec_id) AS n
            FROM el JOIN a{t} USING (vec_id)
            GROUP BY a{t}.k, el.i
        ) s ON s.k = p.k AND s.i = p.i
    )"""
        prev = f"cent{t}"
    sql += f"""
    SELECT k AS cluster, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM (
        SELECT vec_id, k, d2 FROM (
            SELECT el.vec_id, {prev}.k,
                   SUM((el.e - {prev}.c) * (el.e - {prev}.c)) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY el.vec_id
                       ORDER BY SUM((el.e - {prev}.c) * (el.e - {prev}.c)) ASC,
                                {prev}.k ASC) AS rn
            FROM el JOIN {prev} USING (i)
            GROUP BY el.vec_id, {prev}.k
        ) WHERE rn = 1
    )
    GROUP BY k
    """
    return sql


@register("embedding_kmeans_lloyd", category="similarity", bench=True, oracle=_kmeans_oracle())
def embedding_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means via Lloyd's algorithm over the embedding corpus: label-
    seeded integer centroids, KM_ITERS assignment+update rounds, then a
    final assignment reported as per-cluster membership and exact integer
    inertia — the iterative-ML counterpart to PageRank's relational
    iteration (same discipline: every round is bit-deterministic integer
    arithmetic, so the unrolled CTE oracle matches
    exactly; empty clusters keep their previous centroid).

    Scale: the milli-unit vector frame is persisted once and reused by
    every round. Vectors stay ARRAY-NATIVE: the whole #clusters-row
    centroid model collapses into one broadcast row, so each round's
    assignment is a BroadcastNestedLoopJoin + per-row array_min argmin —
    ZERO shuffles of the corpus (MLlib's KMeans does the same with a
    driver-held centroid array); the centroid update explodes only the
    ASSIGNED rows in-task and its (k, dim)-grain aggregation is map-side
    partial, so per-round shuffled bytes are model-sized, never
    corpus-sized; the round's merge reads the updates through a k-entry
    map (element_at lookup per centroid — O(k²) total, no ·d factor in
    the one-row task). Empty clusters keep their previous centroid via a
    whole-array coalesce (a cluster with members contributes every
    dimension, so per-dim and per-array coalesce agree — matching the
    oracle's per-(k, i) LEFT JOIN). The tiny centroid frame is
    localCheckpoint-ed every round (the BFS lineage rule) —
    each round references cent TWICE (assignment and update), so an
    unchained plan doubles the centroid subplan per round: 2^rounds
    copies of the seed build by the final assignment.
    """
    # spread_scan: the single-row-group scan plans to ONE task, which
    # would serialize the interpreted nearest-centroid pass; the
    # repartition lives inside the cache build (post-cache plan unchanged)
    emb = load_table(spark, sf_dir, "embeddings", spread_scan=True)
    ev = tracked_persist(
        emb.select("vec_id", "label", as_milli("embedding").alias("mv"))
    )
    # the looped state IS the one-row centroid set: the model stays
    # collapsed between rounds, so no per-round re-collection and no
    # (k, cv)-grain join exist — each round is assignment + per-centroid
    # partial sums + a 1-row × 1-row merge. The merge reads the round's
    # updates through a k-entry map (map_from_entries over per-centroid
    # rows): each centroid's new vector is ONE element_at lookup — O(k²)
    # key scans total, no ·d factor — so the single-task merge stays
    # trivially under the corpus pass each round already pays even at
    # the production k ≈ √N sizing. The pre-r8 per-cluster filter over a
    # flat (k, i, u) entry list was O(k²·d) in that one task — the last
    # documented would-change-at-100× plan; interleaved A/B at sf0.1
    # (3×3 runs) shows the two merges wall-clock-equal at k=10, so the
    # asymptotic fix costs nothing here
    final = _km_assign(ev, _km_trained_centroids(ev))
    return (
        final.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("d2").alias("inertia"))
        .select(F.col("k").alias("cluster"), "n_members", "inertia")
    )


def _km_assign(ev: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Nearest-centroid assignment of the milli-vector frame ``ev``
    against the one-row centroid set: BroadcastNestedLoopJoin + per-row
    array_min argmin — the shared assignment pass of
    embedding_kmeans_lloyd (final report) and _km_trained_centroids
    (training rounds)."""
    best = _nearest_centroid("mv")
    return ev.crossJoin(F.broadcast(cents_row)).select(
        "vec_id", "mv", best["d2"].alias("d2"), best["k"].alias("k")
    )


def _km_trained_centroids(ev: DataFrame) -> DataFrame:
    """KM_ITERS Lloyd rounds over the persisted milli-vector frame ``ev``;
    returns the one-row trained centroid set. Split out of
    embedding_kmeans_lloyd so the trained model memoizes per
    (session, ev-plan) in the registry's memo store (family "km")."""
    return registry_mod.memoized_frame("km", (ev,), lambda: _km_lloyd(ev))


def _km_lloyd(ev: DataFrame) -> DataFrame:
    # seed goes unchained: round 1's two references to it dedupe via
    # exchange reuse, and the first round's checkpoint resets lineage —
    # a seed checkpoint only adds a materialization job (measured)
    cent = _centroid_set(_label_centroid_arrays(ev, "k"))
    for _ in range(KM_ITERS):
        # per-centroid updated means: (k, i)-grain map-side partial sums
        # (the only corpus-width pass), then ONE (k, i)-keyed map row.
        # Round 15 fused the former intermediate per-k array regroup
        # away: (k,i) → (k) → () cost TWO model-sized exchanges per
        # round; keying the merge map by struct(k, i) needs only the
        # (k,i) agg exchange plus the single-row collect — one fewer
        # shuffle per round at any scale (guide §2.4), and one fewer
        # AQE stage job per round here. (Measured alternative, kept
        # documented: d per-dimension sum(mv[i]) aggregates skip the
        # explode but plan/codegen a d+1-wide agg per round — 3×
        # interleaved A/B at sf0.1 showed it consistently SLOWER.)
        upd = (
            _km_assign(ev, cent)
            .select("k", F.posexplode("mv").alias("i", "e"))
            .groupBy("k", "i")
            .agg(
                F.floor(F.sum("e") * 1.0 / F.count(F.lit(1)) + F.lit(0.5))
                .cast("long")
                .alias("u")
            )
            .groupBy()
            .agg(
                F.expr(
                    "map_from_entries(collect_list("
                    "struct(struct(k AS k, i AS i) AS key, u AS value))) AS m"
                )
            )
        )
        # empty clusters have no map entries and keep their previous
        # centroid (the oracle's per-(k, i) LEFT JOIN + COALESCE): a
        # cluster with members contributes EVERY dimension, so the
        # per-dimension coalesce is exactly the old per-array one.
        cent = checkpoint_rounds(
            cent.crossJoin(F.broadcast(upd)).selectExpr(
                "transform(cents, c -> struct(c.k AS k,"
                " transform(c.cv, (x, i) ->"
                "   coalesce(element_at(m, struct(c.k AS k, i AS i)), x)) AS cv))"
                " AS cents"
            )
        )
    return cent


# --- Trained product quantization (Lloyd per subspace) and the residual
# IVF-PQ index built on it — FAISS's DEFAULT production shape
# (by_residual=true + k-means-trained codebooks). Everything below runs
# in exact integer milli-units (the kmeans discipline): vectors are
# as_milli long arrays, centroid updates are floor-rounded exact-BIGINT
# means, distances are exact integer sums — no rounding ambiguity
# anywhere, so the unrolled-CTE oracles match bit-for-bit.

PQ_TRAIN_ITERS = 2  # Lloyd rounds per subspace (matches KM_ITERS)

# (vec_id, m, j, e): every embedding element in milli-units, regrouped by
# PQ subspace m and within-subspace position j (1-based for list_slice
# parity with the Spark slice()).
_PEL_SQL = f"""
        SELECT vec_id,
               CAST((i - 1) // {PQ_SUBDIM} AS INT) AS m,
               CAST((i - 1) % {PQ_SUBDIM} + 1 AS INT) AS j,
               CAST(FLOOR(CAST(list_extract(embedding, i) AS DOUBLE) * {CENT_SCALE} + 0.5) AS BIGINT) AS e
        FROM embeddings CROSS JOIN (SELECT unnest(range(1, {EMB_DIM + 1})) AS i)"""

# The PQ_K codebook seed ids — the same md5-deterministic choice the
# seeded (untrained) codebook family uses; training replaces the VECTORS,
# not the seed identities.
_RSEEDS_SQL = f"""
        SELECT vec_id AS seed_vec_id FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}"""


def _pq_lloyd_ctes(src: str) -> tuple[str, str]:
    """Unrolled per-subspace Lloyd training as CTE text (the
    _kmeans_oracle pattern at (m, k) grain): cent0 = the seed vectors'
    elements from ``src`` (a CTE with (vec_id, m, j, e) integer
    elements; a ``rseeds(seed_vec_id)`` CTE must be in scope), then
    PQ_TRAIN_ITERS rounds of exact-integer assignment + floor-rounded
    centroid update (empty cells keep their previous centroid). Returns
    (sql_text, final_codebook_cte_name)."""
    sql = f"""pcent0 AS (
        SELECT s.seed_vec_id AS k, r.m, r.j, r.e AS c
        FROM {src} r JOIN rseeds s ON s.seed_vec_id = r.vec_id
    )"""
    prev = "pcent0"
    for t in range(1, PQ_TRAIN_ITERS + 1):
        sql += f""",
    pa{t} AS (
        SELECT vec_id, m, k FROM (
            SELECT r.vec_id, r.m, p.k,
                   ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.m
                       ORDER BY SUM((r.e - p.c) * (r.e - p.c)) ASC, p.k ASC) AS rn
            FROM {src} r JOIN {prev} p ON p.m = r.m AND p.j = r.j
            GROUP BY r.vec_id, r.m, p.k
        ) WHERE rn = 1
    ),
    pcent{t} AS (
        SELECT p.k, p.m, p.j,
               CAST(COALESCE(FLOOR(s.se * 1.0 / s.n + 0.5), p.c) AS BIGINT) AS c
        FROM {prev} p
        LEFT JOIN (
            SELECT a.k, r.m, r.j, SUM(r.e) AS se, COUNT(*) AS n
            FROM {src} r JOIN pa{t} a ON a.vec_id = r.vec_id AND a.m = r.m
            GROUP BY a.k, r.m, r.j
        ) s ON s.k = p.k AND s.m = p.m AND s.j = p.j
    )"""
        prev = f"pcent{t}"
    return sql, prev


def _pq_lloyd_final_sql(src: str, cent: str) -> str:
    """Final nearest-centroid assignment of every (vec_id, m) subvector
    in ``src`` against the trained codebook ``cent`` — (vec_id, m, k, d2),
    exact integers, ties to the smaller k."""
    return f"""
        SELECT vec_id, m, k, d2 FROM (
            SELECT r.vec_id, r.m, p.k,
                   SUM((r.e - p.c) * (r.e - p.c)) AS d2,
                   ROW_NUMBER() OVER (PARTITION BY r.vec_id, r.m
                       ORDER BY SUM((r.e - p.c) * (r.e - p.c)) ASC, p.k ASC) AS rn
            FROM {src} r JOIN {cent} p ON p.m = r.m AND p.j = r.j
            GROUP BY r.vec_id, r.m, p.k
        ) WHERE rn = 1"""


def _d2_long(a, b) -> Column:
    """Exact integer squared-L2 between two array<long> columns —
    zip_with/aggregate, JVM codegen, no floats."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _pq_ms():
    # built lazily — module import must not require an active SparkContext
    return F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")


_PQ_MS_SQL = "explode(array({})) AS m".format(
    ", ".join(str(m) for m in range(PQ_M))
)


def _pq_sub_milli(frame: DataFrame, vec_col: str) -> DataFrame:
    """(…ids, m, sv): explode an array<long> vector column into its PQ_M
    milli-unit subvectors; all other columns pass through."""
    keep = [c for c in frame.columns if c != vec_col]
    return frame.select(*keep, vec_col, _pq_ms()).selectExpr(
        *keep,
        "cast(m AS int) AS m",
        f"slice({vec_col}, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS sv",
    )


def _pq_model_row(entries: DataFrame) -> DataFrame:
    """Collapse a (m, k, cv) codebook frame into ONE broadcastable row
    (array<struct<m, k, cv>> sorted by (m, k)) — the _centroid_set
    pattern with a two-part key: the whole M×K codebook ships to every
    task, so assignment is a BroadcastNestedLoopJoin + per-row argmin,
    ZERO shuffles of the subvector corpus."""
    return entries.groupBy().agg(
        F.expr(
            "array_sort(collect_list(struct(cast(m AS int) AS m,"
            " cast(k AS bigint) AS k, cv AS cv))) AS cents"
        )
    )


def _pq_nearest_sub(sv: str = "sv") -> Column:
    """struct(d2, k) of the nearest SAME-SUBSPACE centroid in the
    broadcast ``cents`` model (fields m, k, cv): exact integer Σ(a−b)²
    per candidate, argmin via array_min's struct ordering (d2 ASC,
    k ASC) — the oracle's ROW_NUMBER tie-break. The consuming row must
    carry its subspace id in column ``m``. Takes the subvector column as
    SQL text and parses the whole argmin in ONE ``expr()`` round-trip
    (the Column-algebra build cost ~80 py4j calls per use — see
    ``_nearest_centroid``)."""
    return F.expr(
        f"array_min(transform(filter(cents, c -> c.m = m), c -> struct("
        f"aggregate(zip_with({sv}, c.cv, (a, b) -> (a - b) * (a - b)), 0L,"
        f" (acc, x) -> acc + x) AS d2, c.k AS k)))"
    )


def _pq_lloyd_train(sub: DataFrame, model0: DataFrame) -> DataFrame:
    """PQ_TRAIN_ITERS Lloyd rounds over a (vec_id, m, sv) subvector frame,
    jointly for all M subspaces — the embedding_kmeans_lloyd discipline
    applied at (m, k) grain: the whole M×K codebook stays collapsed in
    one broadcast row between rounds; each round is one
    BroadcastNestedLoopJoin assignment pass + a (m, k, j)-grain map-side
    partial aggregation (model-sized shuffle, never corpus-sized) + a
    1-row × 1-row merge through a struct-keyed map (empty cells keep
    their previous centroid — the oracle's per-(k, m, j) LEFT JOIN
    COALESCE); the model row is checkpointed per round (each round
    references it twice, so an unchained plan doubles per round).
    Trained models memoize per (session, input plans) in the registry's
    memo store (family "pq")."""
    return registry_mod.memoized_frame(
        "pq", (sub, model0), lambda: _pq_lloyd_rounds(sub, model0)
    )


def _pq_lloyd_rounds(sub: DataFrame, model0: DataFrame) -> DataFrame:
    model = model0
    for _ in range(PQ_TRAIN_ITERS):
        best = _pq_nearest_sub("sv")
        asg = sub.crossJoin(F.broadcast(model)).select(
            "m", best["k"].alias("k"), "sv"
        )
        # Round 15: the merge map is keyed struct(m, k, j) straight off
        # the (m, k, j)-grain agg — the former per-(m, k) array regroup
        # cost an extra model-sized exchange per round (see
        # embedding_kmeans_lloyd's round comment; same fusion, same
        # one-shuffle-per-round saving).
        upd = (
            asg.select("m", "k", F.posexplode("sv").alias("j", "e"))
            .groupBy("m", "k", "j")
            .agg(
                F.floor(F.sum("e") * 1.0 / F.count(F.lit(1)) + F.lit(0.5))
                .cast("long")
                .alias("u")
            )
            .groupBy()
            .agg(
                F.expr(
                    "map_from_entries(collect_list(struct("
                    "struct(cast(m AS int) AS m, cast(k AS bigint) AS k,"
                    " j AS j) AS key, u AS value))) AS mp"
                )
            )
        )
        # empty cells have no map entries and keep their previous
        # centroid (a cell with members contributes every j, so the
        # per-dimension coalesce equals the old per-array one).
        model = checkpoint_rounds(
            model.crossJoin(F.broadcast(upd)).selectExpr(
                "transform(cents, c -> struct(c.m AS m, c.k AS k,"
                " transform(c.cv, (x, j) -> coalesce(element_at(mp,"
                "   struct(c.m AS m, c.k AS k, j AS j)), x)) AS cv)) AS cents"
            )
        )
    return model


def _pq_assign_codes(sub: DataFrame, model: DataFrame) -> DataFrame:
    """(…ids, m, k, d2): final nearest-centroid assignment of every
    subvector against a trained codebook model row — the PQ encode pass,
    exact integers. All non-``sv`` columns pass through, so callers can
    ride the partition key (cent_id) along instead of re-joining it
    back at corpus scale."""
    keep = [c for c in sub.columns if c != "sv"]
    best = _pq_nearest_sub("sv")
    return sub.crossJoin(F.broadcast(model)).select(
        *keep, best["k"].alias("k"), best["d2"].alias("d2")
    )


def _pq_seed_model(vecs: DataFrame, vec_col: str) -> DataFrame:
    """model0: the PQ_K md5-chosen vectors of ``vecs`` sliced into M×K
    seed centroids, collapsed to one model row. ``vecs`` must have
    (vec_id, <vec_col>)."""
    seeds = (
        vecs.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(PQ_K)
        .select(F.col("vec_id").alias("k"), F.col(vec_col).alias("seedv"))
    )
    entries = seeds.select("k", "seedv", _pq_ms()).selectExpr(
        "k",
        "cast(m AS int) AS m",
        f"slice(seedv, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS cv",
    )
    return _pq_model_row(entries)


_TRAINED_CODEBOOK_CTES, _TRAINED_FINAL = _pq_lloyd_ctes("pel")


@register(
    "similarity_pq_trained_codebook",
    category="similarity",
    oracle=f"""
    WITH pel AS ({_PEL_SQL}),
    rseeds AS ({_RSEEDS_SQL}),
    {_TRAINED_CODEBOOK_CTES},
    fin AS ({_pq_lloyd_final_sql("pel", _TRAINED_FINAL)})
    SELECT m, k AS seed_vec_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(SUM(d2) AS BIGINT) AS inertia
    FROM fin GROUP BY m, k
    """,
)
def similarity_pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-TRAINED product-quantization codebook health: per subspace,
    train the 8-centroid codebook with 2 exact-integer k-means rounds
    (seeded by the same md5-deterministic vectors the untrained family
    uses) and report occupancy + inertia per (subspace, centroid) — the
    upgrade similarity_pq_codebook's docstring promised ("a production
    index k-means-refines these seeds"). Composes the engine's own
    Lloyd machinery (embedding_kmeans_lloyd) at (m, k) grain: milli-unit
    integer arithmetic end to end, so the unrolled-CTE oracle matches
    bit-for-bit.

    Scale: the persisted milli-vector frame is the only corpus-width
    input; each training round is a broadcast-model assignment (zero
    corpus shuffles) + a codebook-sized (m, k, j) partial aggregation;
    the model row checkpoints per round (no 2^rounds lineage). Training
    cost is rounds × the encode pass the untrained index already pays."""
    emb = load_table(spark, sf_dir, "embeddings", spread_scan=True)
    ev = tracked_persist(emb.select("vec_id", as_milli("embedding").alias("mv")))
    sub = _pq_sub_milli(ev, "mv")
    model = _pq_lloyd_train(sub, _pq_seed_model(ev, "mv"))
    return (
        _pq_assign_codes(sub, model)
        .groupBy("m", "k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.sum("d2").cast("long").alias("inertia"),
        )
        .select(F.col("m"), F.col("k").alias("seed_vec_id"), "n_assigned", "inertia")
    )


_RES_LLOYD_CTES, _RES_FINAL = _pq_lloyd_ctes("rel")

# Residual IVF-PQ oracle — FAISS by_residual=true with a TRAINED residual
# codebook: the coarse probe is the non-residual index's (shared
# _IVF_CTES, so both variants see the SAME candidate set), codes/LUT are
# exact-integer distances in residual milli-space, and the per-query LUT
# is per PROBED CELL (the query's residual depends on which cell is
# probed). Module constant so the recall monitor composes it verbatim.
# CTE chain through `scored` (query_id, vec_id, adc) — shared by the
# final-topk oracle and the exact-rerank oracle (which cuts the scored
# frame at RERANK_C instead of TOP_K before refining).
_IVF_PQ_RESIDUAL_SCORED_CTES = f"""e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    {_IVF_CTES},
    pel AS ({_PEL_SQL}),
    refc AS (
        SELECT a.cent_id, v.m, v.j,
               CAST(FLOOR(SUM(v.e) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS c
        FROM pel v JOIN iassign a ON a.vec_id = v.vec_id
        GROUP BY a.cent_id, v.m, v.j
    ),
    rel AS (
        SELECT v.vec_id, v.m, v.j, v.e - c.c AS e
        FROM pel v
        JOIN iassign a ON a.vec_id = v.vec_id
        JOIN refc c ON c.cent_id = a.cent_id AND c.m = v.m AND c.j = v.j
    ),
    rseeds AS ({_RSEEDS_SQL}),
    {_RES_LLOYD_CTES},
    codes AS (
        SELECT vec_id, m, k FROM ({_pq_lloyd_final_sql("rel", _RES_FINAL)})
    ),
    qrel AS (
        SELECT q.query_id, q.cent_id, v.m, v.j, v.e - c.c AS e
        FROM iqprobe q
        JOIN pel v ON v.vec_id = q.query_id
        JOIN refc c ON c.cent_id = q.cent_id AND c.m = v.m AND c.j = v.j
    ),
    lut AS (
        SELECT q.query_id, q.cent_id, p.m, p.k,
               SUM((q.e - p.c) * (q.e - p.c)) AS qd2
        FROM qrel q JOIN {_RES_FINAL} p ON p.m = q.m AND p.j = q.j
        GROUP BY q.query_id, q.cent_id, p.m, p.k
    ),
    candidates AS (
        SELECT q.query_id, a.cent_id, a.vec_id
        FROM iqprobe q JOIN iassign a ON a.cent_id = q.cent_id
        WHERE a.vec_id <> q.query_id
    ),
    scored AS (
        SELECT cd.query_id, cd.vec_id, SUM(l.qd2) AS adc
        FROM candidates cd
        JOIN codes kk ON kk.vec_id = cd.vec_id
        JOIN lut l ON l.query_id = cd.query_id AND l.cent_id = cd.cent_id
                  AND l.m = kk.m AND l.k = kk.k
        GROUP BY cd.query_id, cd.vec_id
    )
    """

_IVF_PQ_RESIDUAL_ORACLE = f"""
    WITH {_IVF_PQ_RESIDUAL_SCORED_CTES}
    SELECT query_id, vec_id, CAST(adc AS BIGINT) AS adc_md2, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc, vec_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    """


def _residual_index_build(spark: SparkSession, sf_dir: str):
    """(ev, iassign, iqprobe, refc, model, codes) — the residual IVF-PQ
    BUILD phase, shared by similarity_ivf_pq_residual_topk (in-memory
    serve) and sink_ann_index_partitioned (persisted serve): coarse
    assignment + probe list (double dot space, exact parity with the
    non-residual index), per-cell mean references, the Lloyd-trained
    residual codebook (one broadcast model row) and the integer PQ
    codes. See similarity_ivf_pq_residual_topk's docstring for the
    design and measured-ablation story."""
    emb_d = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    # the coarse probe stays in DOUBLE dot space — exact parity with the
    # non-residual index (same cells, same candidates); only the PQ layer
    # moves to integer milli-space
    _, iassign, iqprobe = _ivf_coarse(emb_d)
    ev = tracked_persist(
        load_table(spark, sf_dir, "embeddings", spread_scan=True).select(
            "vec_id", as_milli("embedding").alias("mv")
        )
    )
    # residual reference per cell = the cell's floor-rounded member MEAN
    # (one frozen-assignment Lloyd update of the coarse centroids — the
    # probe geometry stays shared with the non-residual index while the
    # reference moves to where FAISS's trained coarse quantizer puts it;
    # subtracting the raw centroid VECTOR instead doubles residual
    # variance on this corpus — ablation in BASELINE.md)
    refc = tracked_persist(
        _label_centroid_arrays(
            iassign.join(ev, "vec_id").select(
                F.col("cent_id").alias("label"), "mv"
            ),
            "cent_id",
        )
    )
    # residual frame: persisted as the shared train+encode input (a
    # warehouse build computes it in-flight inside the encode pass)
    res = tracked_persist(
        iassign.join(ev, "vec_id")
        .join(F.broadcast(refc), "cent_id")
        .selectExpr("vec_id", "cent_id", "zip_with(mv, cv, (x, y) -> x - y) AS r")
    )
    # cent_id rides through the subvector explode and the encode pass,
    # so the persisted-index writer never re-joins the corpus for it
    rsub = _pq_sub_milli(res.select("vec_id", "cent_id", "r"), "r")
    model = _pq_lloyd_train(rsub, _pq_seed_model(res.select("vec_id", "r"), "r"))
    codes = _pq_assign_codes(rsub, model).select("vec_id", "cent_id", "m", "k")
    return ev, iassign, iqprobe, refc, model, codes


def _residual_query_lut(
    ev: DataFrame, iqprobe: DataFrame, refc: DataFrame, model: DataFrame
) -> DataFrame:
    """(query_id, cent_id, m, k, qd2) — the per-(query, probed-cell)
    residual ADC lookup table: tiny probe list × pruned query vectors ×
    broadcast cell references, subspace-sliced, exact integer distance
    to EVERY trained centroid of the matching subspace. Query-side only:
    no corpus-width input."""
    qres = (
        F.broadcast(iqprobe)
        .join(
            ev.filter(F.col("vec_id") < N_QUERIES),
            F.col("query_id") == F.col("vec_id"),
        )
        .join(F.broadcast(refc), F.col("probe_cent") == F.col("cent_id"))
        .selectExpr(
            "query_id", "cent_id", "zip_with(mv, cv, (x, y) -> x - y) AS qr"
        )
    )
    qrsub = qres.selectExpr("query_id", "cent_id", "qr", _PQ_MS_SQL).selectExpr(
        "query_id",
        "cent_id",
        "cast(m AS int) AS m",
        f"slice(qr, m * {PQ_SUBDIM} + 1, {PQ_SUBDIM}) AS qv",
    )
    return (
        qrsub.crossJoin(F.broadcast(model))
        .selectExpr(
            "query_id",
            "cent_id",
            "m",
            "qv",
            "explode(filter(cents, c -> c.m = m)) AS c",
        )
        .selectExpr(
            "query_id",
            "cent_id",
            "m",
            "c.k AS k",
            "aggregate(zip_with(qv, c.cv, (a, b) -> (a - b) * (a - b)), 0L,"
            " (acc, x) -> acc + x) AS qd2",
        )
    )


@register(
    "similarity_ivf_pq_residual_topk",
    category="similarity",
    bench=True,
    oracle=_IVF_PQ_RESIDUAL_ORACLE,
)
def similarity_ivf_pq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ ANN — FAISS's DEFAULT index shape
    (by_residual=true + Lloyd-trained codebook), upgrading the
    non-residual similarity_ivf_pq_topk: the PQ codebook is TRAINED on
    residuals (vector − assigned coarse centroid), so its 8 centroids
    per subspace describe the within-cell spread instead of re-describing
    the cell location the coarse index already knows. The price is a
    per-(query, probed-cell) lookup table — the query's residual depends
    on which cell is probed — |Q|·n_probes·M·K rows, still broadcast.

    The coarse probe is SHARED with the non-residual variant (same
    _IVF_CTES / _ivf_coarse), so both indexes score the identical
    candidate set and any recall difference is pure ADC ranking
    fidelity. The residual reference per cell is the cell's member MEAN
    (one frozen-assignment Lloyd update of the coarse centroids — where
    FAISS's trained coarse quantizer puts it), NOT the raw centroid
    vector. Measured hits against brute force on this corpus
    (candidate ceiling 51/80 at sf0.01, 27/80 at sf0.1):
    mean-ref residual + trained codebook 13 / 5 vs non-residual seeded
    8 / 4 (tests/test_fuzz_vectors.py pins the win). ABLATIONS, both
    recorded in BASELINE.md: residual about the raw centroid VECTOR
    with a seeded codebook scored 4 / 4 and with a trained codebook
    6 / 3 — subtracting an unrelated data vector from uniform data
    DOUBLES effective variance, so residual encoding pays exactly when
    the reference is a trained mean; that is why FAISS defaults to
    by_residual=true AND trained quantizers together.

    Scale: same posture as the non-residual index (coarse assignment +
    codes are build-phase, bucketed by cent_id; query time touches
    candidate codes only, never a raw corpus embedding); training adds
    rounds × one broadcast-assignment pass at build. All PQ arithmetic
    is exact integer milli-space — the ADC is a BIGINT, not a rounded
    double, so the oracle is bit-exact by construction."""
    scored = _residual_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.col("adc").cast("long").alias("adc_md2"), "rank")
    )


def _residual_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, vec_id, adc) — every probed candidate's exact-integer
    residual ADC, the frame both the final top-k and the exact-rerank
    stage cut (the Spark twin of _IVF_PQ_RESIDUAL_SCORED_CTES)."""
    ev, iassign, iqprobe, refc, model, codes = _residual_index_build(spark, sf_dir)
    # candidates carry the probed cent_id; drop the codes' copy to keep
    # the join keys unambiguous
    codes = codes.select("vec_id", "m", "k")
    lut = _residual_query_lut(ev, iqprobe, refc, model)
    candidates = (
        F.broadcast(iqprobe)
        .join(iassign, F.col("probe_cent") == F.col("cent_id"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "cent_id", "vec_id")
    )
    return (
        candidates.join(codes, "vec_id")
        .join(F.broadcast(lut), ["query_id", "cent_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd2").alias("adc"))
    )


@register(
    "similarity_ivf_pq_residual_recall",
    category="similarity",
    oracle=f"""
    WITH bf AS (
        SELECT * FROM ({{BF}}) t
    ),
    ipq AS (
        SELECT * FROM ({{IPQ}}) t
    )
    SELECT bf.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(ipq.vec_id) AS BIGINT) AS n_hits,
           CAST(round(COUNT(ipq.vec_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS recall
    FROM bf LEFT JOIN ipq ON bf.query_id = ipq.query_id AND bf.vec_id = ipq.vec_id
    GROUP BY bf.query_id
    """.format(
        BF=REGISTRY["similarity_topk_bruteforce"].oracle,
        IPQ=_IVF_PQ_RESIDUAL_ORACLE,
    ),
)
def similarity_ivf_pq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the residual (trained) IVF-PQ index against the exact
    cosine brute force, per query — the drift monitor for the
    by_residual=true index, directly comparable to
    similarity_ivf_pq_recall: both variants probe the SAME cells and
    score the SAME candidates, so the recall difference is pure ADC
    ranking fidelity — the quantization-error reduction that residual
    encoding + codebook training buy together.
    tests/test_fuzz_vectors.py pins that this monitor's total hits beat
    the non-residual monitor's on this corpus.

    Reading the number: the candidate-set ceiling (true neighbors that
    fall in probed cells) is what a PERFECT ADC would score — measured
    51/80 at sf0.01 and 27/80 at sf0.1 on this uniform-random corpus;
    the non-residual seeded index reaches 8 and 4 of that, this index
    13 and 5. The remaining gap to the ceiling is what a finer codebook
    (production nbits=8 → 256 centroids vs the family's 8) would buy."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = tracked_persist(
        emb.select("vec_id", as_double("embedding").alias("e"))
    )
    bf = _bruteforce_topk(base).select("query_id", "vec_id")
    ipq = similarity_ivf_pq_residual_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ipq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).cast("double").alias("recall"),
        )
    )


@register(
    "sink_ann_index_partitioned",
    category="sink",
    oracle=_IVF_PQ_RESIDUAL_ORACLE,
)
def sink_ann_index_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / serve-many for the residual IVF-PQ index: the build
    phase WRITES the index to disk — PQ codes partitioned by coarse cell
    (``cent_id=*/`` directories), plus the trained codebook and the
    per-cell reference means as tiny side tables — and the serve phase
    answers top-k from the READ-BACK artifacts alone. Shares
    similarity_ivf_pq_residual_topk's oracle VERBATIM: serving from the
    persisted index must equal serving from memory — the index
    round-trip contract (the sessionize_gap_ids/salted_stitch
    precedent; a mismatch indicts the sink/source layer, not the math).

    This is THE layout decision for billion-vector serving: the index is
    laid out so a query's I/O is proportional to its probed cells, not
    the corpus. The probe list joins the codes read on the PARTITION
    column, so Spark's dynamic partition pruning restricts the scan to
    probed ``cent_id=`` directories (the layout guard asserts the
    pruning subquery is planned); the codebook and references are
    kilobyte side tables read once and broadcast. Nothing query-side
    touches a raw corpus embedding or an unprobed partition.

    Scale: at 100 TB the build is the one corpus pass (assign + encode,
    shuffled once by cent_id at write); each serving query then reads
    n_probes directories of M-small-codes — a single rack serves what
    the raw corpus never could. The scratch location stands in for the
    warehouse path a deployment would use."""
    import os

    ev, _iassign, iqprobe, refc, model, codes = _residual_index_build(spark, sf_dir)
    base = _store_dir(sf_dir, "embeddings", "ann_index")

    def build_into(stage: str) -> None:
        # codes already ride WITH their cell (the partition key, threaded
        # through the encode pass — no corpus re-join); one index row per
        # (vector, subspace)
        codes.write.partitionBy("cent_id").parquet(os.path.join(stage, "codes"))
        model.select(F.explode("cents").alias("c")).select(
            "c.m", "c.k", "c.cv"
        ).write.parquet(os.path.join(stage, "codebook"))
        refc.write.parquet(os.path.join(stage, "refs"))

    _build_store_atomically(base, build_into)

    # ---- serve from the persisted artifacts only ----
    codes_back = spark.read.parquet(os.path.join(base, "codes"))
    model_back = _pq_model_row(spark.read.parquet(os.path.join(base, "codebook")))
    refc_back = spark.read.parquet(os.path.join(base, "refs"))
    lut = _residual_query_lut(ev, iqprobe, refc_back, model_back)
    scored = (
        codes_back.join(
            F.broadcast(iqprobe),
            F.col("cent_id") == F.col("probe_cent"),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(lut), ["query_id", "cent_id", "m", "k"])
        .groupBy("query_id", "vec_id")
        .agg(F.sum("qd2").alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.col("adc").cast("long").alias("adc_md2"), "rank")
    )


_APPEND_LLOYD_CTES, _APPEND_FINAL = _pq_lloyd_ctes("rel_base")


@register(
    "sink_ann_index_append",
    category="sink",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    {_IVF_CTES},
    pel AS ({_PEL_SQL}),
    refc AS (
        SELECT a.cent_id, v.m, v.j,
               CAST(FLOOR(SUM(v.e) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS c
        FROM pel v JOIN iassign a ON a.vec_id = v.vec_id
        WHERE v.vec_id % 10 NOT IN (3, 7)
        GROUP BY a.cent_id, v.m, v.j
    ),
    rel AS (
        SELECT v.vec_id, v.m, v.j, v.e - c.c AS e
        FROM pel v
        JOIN iassign a ON a.vec_id = v.vec_id
        JOIN refc c ON c.cent_id = a.cent_id AND c.m = v.m AND c.j = v.j
    ),
    rel_base AS (SELECT * FROM rel WHERE vec_id % 10 NOT IN (3, 7)),
    rseeds AS (
        SELECT vec_id AS seed_vec_id FROM embeddings
        WHERE vec_id % 10 NOT IN (3, 7)
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}),
    {_APPEND_LLOYD_CTES},
    fin AS ({_pq_lloyd_final_sql("rel", _APPEND_FINAL)})
    SELECT CAST(f.vec_id AS BIGINT) AS vec_id,
           CAST(a.cent_id AS BIGINT) AS cent_id,
           CAST(f.m AS INT) AS m,
           CAST(f.k AS BIGINT) AS code_k
    FROM fin f JOIN iassign a ON a.vec_id = f.vec_id
    """,
)
def sink_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE for the partitioned residual IVF-PQ index: an
    epoch-0 BUILD over the base corpus (vec_id % 10 ∉ {{3, 7}}) writes
    codes partitioned by coarse cell plus the FROZEN artifacts — coarse
    centroids, per-cell reference means, trained codebook — then two
    append epochs encode the newly-arriving vectors (vec_id % 10 = 3,
    then 7) using ONLY the read-back artifacts and land them in the
    existing ``cent_id=`` directories. This is the FAISS add_with_ids
    discipline between retrains — artifacts freeze, new vectors flow
    through assign → residual → encode — registered batch-checkable so
    the driver attests the contract the streaming twin
    (tests/test_streaming.py::test_streaming_ann_index_append_matches_batch_rebuild)
    proves per-micro-batch: the oracle is the ONE-SHOT encode of the
    GROWN corpus with the base-frozen artifacts, so any divergence
    between "appended over epochs" and "rebuilt once" — a re-trained
    codebook, a drifted reference, a row landed in the wrong partition —
    is a hash mismatch. (The dedup_incremental_epochs precedent, applied
    to the ANN index.)

    Scale: each append pays batch-sized work only — assignment is batch
    × broadcast centroid set, residual/encode touch batch rows, and the
    partitioned append writes only the touched ``cent_id=`` dirs; the
    base corpus is never rescanned at ingest (the property that makes
    index freshness affordable at 100 TB — per-ingest cost ∝ the batch,
    the r9 dedup-admission posture)."""
    import os

    base_dir = _store_dir(sf_dir, "embeddings", "ann_index_append")
    codes_path = os.path.join(base_dir, "codes")

    def build_into(stage: str) -> None:
        emb_d = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("e")
        )
        is_new = (F.col("vec_id") % 10).isin(3, 7)
        # full-corpus coarse frames: the centroid SEEDS (vec_id % 100 = 0
        # → vec_id % 10 = 0) are all base vectors, so the frozen centroid
        # set equals the full-corpus one and iassign is valid for every
        # epoch — the oracle leans on the same arithmetic
        icent, iassign, _iqprobe = _ivf_coarse(emb_d)
        ev = tracked_persist(
            load_table(spark, sf_dir, "embeddings", spread_scan=True).select(
                "vec_id", as_milli("embedding").alias("mv")
            )
        )
        base_mv = iassign.join(ev, "vec_id").filter(~is_new)
        refc = tracked_persist(
            _label_centroid_arrays(
                base_mv.select(F.col("cent_id").alias("label"), "mv"), "cent_id"
            )
        )
        res_base = tracked_persist(
            base_mv.join(F.broadcast(refc), "cent_id").select(
                "vec_id",
                "cent_id",
                F.zip_with("mv", "cv", lambda x, y: x - y).alias("r"),
            )
        )
        rsub = _pq_sub_milli(res_base, "r")
        model = _pq_lloyd_train(
            rsub, _pq_seed_model(res_base.select("vec_id", "r"), "r")
        )
        codes0 = _pq_assign_codes(rsub, model).select("vec_id", "cent_id", "m", "k")

        # the promote publishes only a COMPLETE build+append sequence
        # (reruns must never re-append)
        tcodes = os.path.join(stage, "codes")
        codes0.write.partitionBy("cent_id").parquet(tcodes)
        icent.write.parquet(os.path.join(stage, "cents"))
        refc.write.parquet(os.path.join(stage, "refs"))
        model.select(F.explode("cents").alias("c")).select(
            "c.m", "c.k", "c.cv"
        ).write.parquet(os.path.join(stage, "codebook"))

        # ---- append epochs: encoder inputs come from READ-BACK side
        # tables only — the production ingest path needs no live state ----
        cents_back = spark.read.parquet(os.path.join(stage, "cents"))
        refc_back = spark.read.parquet(os.path.join(stage, "refs"))
        model_back = _pq_model_row(spark.read.parquet(os.path.join(stage, "codebook")))
        for mod in (3, 7):
            b_e = emb_d.filter(F.col("vec_id") % 10 == mod)
            bassign = (
                b_e.crossJoin(F.broadcast(cents_back))
                .select(
                    "vec_id",
                    "cent_id",
                    F.expr(neg_round_dot_sql("e", "ce", 4)).alias("ns"),
                )
                .groupBy("vec_id")
                .agg(F.min(F.struct("ns", "cent_id")).alias("b"))
                .select("vec_id", F.col("b.cent_id").alias("cent_id"))
            )
            bres = (
                bassign.join(ev.filter(F.col("vec_id") % 10 == mod), "vec_id")
                .join(F.broadcast(refc_back), "cent_id")
                .select(
                    "vec_id",
                    "cent_id",
                    F.zip_with("mv", "cv", lambda x, y: x - y).alias("r"),
                )
            )
            (
                _pq_assign_codes(_pq_sub_milli(bres, "r"), model_back)
                .select("vec_id", "cent_id", "m", "k")
                .write.mode("append")
                .partitionBy("cent_id")
                .parquet(tcodes)
            )

    _build_store_atomically(base_dir, build_into)
    back = spark.read.parquet(codes_path)
    return back.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cent_id").cast("long").alias("cent_id"),
        F.col("m").cast("int").alias("m"),
        F.col("k").cast("long").alias("code_k"),
    )


# --- ANN index staleness → rebuild policy ---------------------------------
# vec_id % 7 classes arriving as append epochs: 100 is coprime to 7, so
# the N_CENT_MOD centroid seeds are spread across ALL classes and the
# frozen (base-trained) coarse quantizer genuinely differs from a
# rebuild on the grown corpus — unlike the % 10 split of
# sink_ann_index_append, where every seed is a base vector by
# construction and the two quantizers coincide.
REBUILD_EPOCH_MODS = (1, 4)
REBUILD_T_PCT = 95  # page when appended recall < 95% of rebuilt recall


def _mods_not_in_sql(mods: tuple[int, ...]) -> str:
    """``m7 NOT IN (...)`` with an explicit comma-join — tuple repr
    renders a 1-tuple as ``(1,)``, which is invalid SQL — and ``TRUE``
    for the empty (fully-grown) corpus. Single source of truth for
    every per-stage corpus/seed predicate (r13 advice: the stage list
    used to hardcode the classes and editing REBUILD_EPOCH_MODS would
    silently desync the frozen seed set from the staged corpora)."""
    return f"m7 NOT IN ({', '.join(map(str, mods))})" if mods else "TRUE"


def _rebuild_stage_sql(tag: str, epoch: int, cpred: str, rpred: str) -> str:
    """One stage's oracle CTEs: corpus under ``cpred``, exact top-k
    ground truth, and two exact-scored IVF probe legs — the FROZEN
    quantizer (a: base-class seeds) vs the REBUILT one (r: ``rpred``
    seeds) — reduced to a single counts row."""
    legs = ""
    for leg, qpred in (("a", _mods_not_in_sql(REBUILD_EPOCH_MODS)), ("r", rpred)):
        legs += f""",
    {tag}{leg}cent AS (SELECT vec_id AS cent_id, e AS ce FROM rseeds WHERE {qpred}),
    {tag}{leg}assign AS (
        SELECT vec_id, cent_id FROM (
            SELECT v.vec_id, c.cent_id,
                   row_number() OVER (PARTITION BY v.vec_id
                       ORDER BY round(list_dot_product(v.e, c.ce), 4) DESC,
                                c.cent_id) AS rn
            FROM {tag}corp v CROSS JOIN {tag}{leg}cent c) WHERE rn = 1
    ),
    {tag}{leg}probe AS (
        SELECT query_id, cent_id FROM (
            SELECT q.query_id, c.cent_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qe, c.ce), 4) DESC,
                                c.cent_id) AS rn
            FROM rq q CROSS JOIN {tag}{leg}cent c) WHERE rn <= {N_PROBES}
    ),
    {tag}{leg}topk AS (
        SELECT query_id, vec_id FROM (
            SELECT p.query_id, a.vec_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY round(list_cosine_similarity(q.qe, v.e), 4) DESC,
                                a.vec_id) AS rn
            FROM {tag}{leg}probe p
            JOIN {tag}{leg}assign a ON a.cent_id = p.cent_id
                                   AND a.vec_id <> p.query_id
            JOIN {tag}corp v ON v.vec_id = a.vec_id
            JOIN rq q ON q.query_id = p.query_id
        ) WHERE rn <= {TOP_K}
    )"""
    return f""",
    {tag}corp AS (SELECT vec_id, e FROM remb WHERE {cpred}),
    {tag}gt AS (
        SELECT query_id, vec_id FROM (
            SELECT q.query_id, c.vec_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY round(list_cosine_similarity(q.qe, c.e), 4) DESC,
                                c.vec_id) AS rn
            FROM rq q JOIN {tag}corp c ON c.vec_id <> q.query_id
        ) WHERE rn <= {TOP_K}
    ){legs},
    {tag}row AS (
        SELECT {epoch} AS epoch,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}gt) AS n_exact,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}gt g
                JOIN {tag}atopk h USING (query_id, vec_id)) AS hits_appended,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {tag}gt g
                JOIN {tag}rtopk h USING (query_id, vec_id)) AS hits_rebuilt
    )"""


# Epoch i's corpus has absorbed the first i append classes, i.e. it
# still EXCLUDES mods[i:]; epoch len(mods) is the fully-grown corpus.
# Both the staged corpora and each stage's rebuilt-quantizer seeds
# derive from REBUILD_EPOCH_MODS here, mirroring the Spark stage list.
_REBUILD_STAGES_SQL = "".join(
    _rebuild_stage_sql(
        f"s{i}",
        i,
        _mods_not_in_sql(REBUILD_EPOCH_MODS[i:]),
        _mods_not_in_sql(REBUILD_EPOCH_MODS[i:]),
    )
    for i in range(len(REBUILD_EPOCH_MODS) + 1)
)
_REBUILD_UNION_SQL = " UNION ALL\n          ".join(
    f"SELECT * FROM s{i}row" for i in range(len(REBUILD_EPOCH_MODS) + 1)
)

_REBUILD_ORACLE = f"""
    WITH remb AS (
        SELECT vec_id, embedding::DOUBLE[] AS e, vec_id % 7 AS m7
        FROM embeddings
    ),
    rseeds AS (SELECT vec_id, e, m7 FROM remb WHERE vec_id % {N_CENT_MOD} = 0),
    rq AS (SELECT vec_id AS query_id, e AS qe FROM remb WHERE vec_id < {N_QUERIES})
    {_REBUILD_STAGES_SQL}
    SELECT epoch, n_exact, hits_appended, hits_rebuilt,
           CAST(round(hits_appended * 1.0 / NULLIF(n_exact, 0), 6) AS DOUBLE)
               AS recall_appended,
           CAST(round(hits_rebuilt * 1.0 / NULLIF(n_exact, 0), 6) AS DOUBLE)
               AS recall_rebuilt,
           hits_appended * 100 < {REBUILD_T_PCT} * hits_rebuilt
               AS rebuild_needed
    FROM ({_REBUILD_UNION_SQL})
    """


@register(
    "ann_rebuild_policy",
    category="similarity",
    bench=True,
    oracle=_REBUILD_ORACLE,
)
def ann_rebuild_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-staleness monitor — the decision layer between
    sink_ann_index_append (add between retrains) and a fresh rebuild:
    per append epoch, recall at TOP_K (top-10) of serving on the FROZEN
    base coarse quantizer vs serving on a quantizer REBUILT on the grown
    corpus, both against that epoch's exact brute-force ground truth,
    with a rebuild_needed verdict when appended recall drops below
    REBUILD_T_PCT percent (currently 95%) of rebuilt recall. This is the FAISS
    add-then-retrain discipline made measurable: add_with_ids between
    retrains is cheap but the coarse geometry goes stale as the corpus
    distribution drifts, and the published guidance (FAISS wiki,
    "index factory" / IVF retraining notes) is to retrain when held-out
    recall degrades — this operator IS that held-out check, the page a
    100 TB vector store sets on its serving tier.

    Both legs serve identically — probe {N_PROBES} cells, exact-score
    the probed candidates — so the ONLY difference is quantizer
    geometry: staleness is isolated from PQ quantization noise, and
    every count is an exact integer (hit sets from md5-free rounded-dot
    rankings with pinned tie-breaks; the verdict compare is
    cross-multiplied integers, no division). On this isotropic
    synthetic corpus the frozen quantizer's missing cells sometimes
    HELP (fewer, larger cells ⇒ wider probes), so epochs can report
    rebuild_needed = false honestly — the operator reports geometry
    drift, it does not presume it.

    Scale: ground truth is |Q|·N per epoch on the {N_QUERIES}-query
    audit sample (the sampled-recall monitoring pattern of
    similarity_recall_report); quantizer legs are corpus × #cells
    broadcast dots. At 100 TB the audit sample stays constant-size, the
    assignments are the index's own maintenance byproducts, and the
    monitor costs a scan — not a rebuild, which is exactly the spend
    it gates."""
    # Round-15 build-chatter diet: this operator's relational structure is
    # unchanged (same frames, same persist boundaries, same join/window
    # shapes — see the _before/_after plans), but the interior is authored
    # as a handful of spark.sql statements over temp views instead of
    # ~5 000 Column-API py4j round-trips per plan build (cProfile: the
    # gateway chatter was >half of the query's warm wall — guide §1.2
    # per-task work includes the DRIVER's work). Expressions are the
    # token-identical SQL the Column form rendered.
    emb = load_table(spark, sf_dir, "embeddings")
    base = tracked_persist(
        emb.selectExpr(
            "vec_id", "CAST(embedding AS array<double>) AS e", "vec_id % 7 AS m7"
        )
    )
    base.createOrReplaceTempView("arp_base")
    spark.sql(
        f"SELECT vec_id AS query_id, e AS qe FROM arp_base"
        f" WHERE vec_id < {N_QUERIES}"
    ).createOrReplaceTempView("arp_qs")

    ns_corp = neg_round_dot_sql("v.e", "c.ce", 4)
    ns_query = neg_round_dot_sql("q.qe", "c.ce", 4)
    cos_cand = cosine_rounded_sql("q.qe", "v.ce", 4)

    def cents_sql(qpred: str) -> str:
        return (
            f"(SELECT vec_id AS cent_id, e AS ce FROM arp_base"
            f" WHERE vec_id % {N_CENT_MOD} = 0 AND {qpred})"
        )

    def assign_sql(qpred: str) -> str:
        """Corpus coarse assignment under one quantizer: min(struct(ns,
        cent_id)) argmin against the broadcast cell set — assignment is a
        pure function of (vector, quantizer), so the FROZEN quantizer's
        frame is built once and filtered per stage; rebuilt quantizers
        change per stage and cannot share."""
        return f"""
            SELECT vec_id, m7, b.cent_id AS cent_id FROM (
                SELECT vec_id, m7, min(struct(ns, cent_id)) AS b FROM (
                    SELECT /*+ BROADCAST(c) */ v.vec_id, v.m7, c.cent_id,
                           {ns_corp} AS ns
                    FROM arp_base v CROSS JOIN {cents_sql(qpred)} c
                ) GROUP BY vec_id, m7
            )"""

    def probe_sql(qpred: str) -> str:
        return f"""
            SELECT query_id, cent_id FROM (
                SELECT query_id, cent_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY ns, cent_id) AS rn
                FROM (
                    SELECT /*+ BROADCAST(c) */ q.query_id, c.cent_id,
                           {ns_query} AS ns
                    FROM arp_qs q CROSS JOIN {cents_sql(qpred)} c
                )
            ) WHERE rn <= {N_PROBES}"""

    frozen = _mods_not_in_sql(REBUILD_EPOCH_MODS)
    fassign = tracked_persist(spark.sql(assign_sql(frozen)))
    fprobe = tracked_persist(spark.sql(probe_sql(frozen)))
    fassign.createOrReplaceTempView("arp_fassign")
    fprobe.createOrReplaceTempView("arp_fprobe")

    def ivf_topk_sql(cpred: str, assign: str, probe: str) -> str:
        """Serve one IVF leg: probed cells' candidates, exact-scored and
        rank-cut — identical candidate set and tie-breaks as before."""
        return f"""
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM (
                    SELECT /*+ BROADCAST(q) */ p.query_id, a.vec_id,
                           {cos_cand} AS cos
                    FROM ({probe}) p
                    JOIN (SELECT vec_id, cent_id FROM ({assign}) t
                          WHERE {cpred}) a ON a.cent_id = p.cent_id
                    JOIN (SELECT vec_id, e AS ce FROM arp_base) v
                         ON v.vec_id = a.vec_id
                    JOIN arp_qs q ON q.query_id = p.query_id
                    WHERE a.vec_id <> p.query_id
                )
            ) WHERE rn <= {TOP_K}"""

    def exact_topk_sql(cpred: str) -> str:
        return f"""
            SELECT query_id, vec_id FROM (
                SELECT query_id, vec_id,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, vec_id) AS rn
                FROM (
                    SELECT /*+ BROADCAST(q) */ q.query_id, v.vec_id,
                           {cos_cand} AS cos
                    FROM arp_qs q
                    JOIN (SELECT vec_id, e AS ce FROM arp_base
                          WHERE {cpred}) v ON v.vec_id <> q.query_id
                )
            ) WHERE rn <= {TOP_K}"""

    # epoch i still excludes mods[i:] — single source of truth with the
    # oracle's _REBUILD_STAGES_SQL
    out = None
    for epoch in range(len(REBUILD_EPOCH_MODS) + 1):
        cpred = _mods_not_in_sql(REBUILD_EPOCH_MODS[epoch:])
        gt = tracked_persist(spark.sql(exact_topk_sql(cpred)))
        gt.createOrReplaceTempView(f"arp_gt{epoch}")
        appended = ivf_topk_sql(cpred, "SELECT * FROM arp_fassign",
                                "SELECT * FROM arp_fprobe")
        # epoch 0's "rebuilt" quantizer IS the frozen one (same seed
        # set) — the legs are the same statement
        rebuilt = (
            appended
            if epoch == 0
            else ivf_topk_sql(cpred, assign_sql(cpred), probe_sql(cpred))
        )
        row = spark.sql(f"""
            SELECT CAST({epoch} AS INT) AS epoch, n_exact, hits_appended,
                   hits_rebuilt
            FROM (SELECT CAST(count(*) AS BIGINT) AS n_exact
                  FROM arp_gt{epoch})
            CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS hits_appended
                        FROM arp_gt{epoch} g JOIN ({appended}) h
                        USING (query_id, vec_id))
            CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS hits_rebuilt
                        FROM arp_gt{epoch} g JOIN ({rebuilt}) h
                        USING (query_id, vec_id))""")
        out = row if out is None else out.unionByName(row)
    return out.selectExpr(
        "epoch", "n_exact", "hits_appended", "hits_rebuilt",
        "CAST(round(hits_appended * 1.0 / nullif(n_exact, 0), 6) AS DOUBLE)"
        " AS recall_appended",
        "CAST(round(hits_rebuilt * 1.0 / nullif(n_exact, 0), 6) AS DOUBLE)"
        " AS recall_rebuilt",
        f"hits_appended * 100 < {REBUILD_T_PCT} * hits_rebuilt"
        " AS rebuild_needed",
    )


RERANK_C = 30  # ADC shortlist depth the exact refine stage re-scores


@register(
    "similarity_ivf_pq_rerank_topk",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH {_IVF_PQ_RESIDUAL_SCORED_CTES},
    shortlist AS (
        SELECT query_id, vec_id FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc, vec_id) AS rnk
            FROM scored
        ) WHERE rnk <= {RERANK_C}
    ),
    refined AS (
        SELECT s.query_id, s.vec_id,
               CAST(round(list_cosine_similarity(q.e, v.e), 4) AS DOUBLE) AS cos_sim
        FROM shortlist s
        JOIN e q ON q.vec_id = s.query_id
        JOIN e v ON v.vec_id = s.vec_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_sim DESC, vec_id) AS rank
        FROM refined
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_ivf_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage serving over the residual IVF-PQ index — the FAISS
    refine / production retrieval shape: the index's exact-integer ADC
    shortlists RERANK_C candidates per query (cheap, codes-only), then
    an EXACT cosine pass re-scores only those {RERANK_C} survivors and
    keeps the top {TOP_K}. This is where ANN recall is actually bought
    back: the coarse probe bounds what is reachable (the candidate
    ceiling), ADC ranks cheaply inside it, and the refine stage spends
    exact distance computation on a per-query-constant shortlist.
    Measured hits against brute force on this corpus: rerank 24 / 14
    (sf0.01 / sf0.1) vs the pure-ADC index's 13 / 5 and the probed-cell
    ceilings of 51 / 27 — the refine roughly doubles the ADC index's
    recall; the rest of the ceiling gap is shortlist misses, the
    RERANK_C knob (tests/test_fuzz_vectors.py pins the ladder).

    Scale: stage 1 is the index serve (candidate-bounded, no raw
    vectors); stage 2 touches exactly |Q|·{RERANK_C} raw vectors via a
    key join against the vector store — point lookups, never a corpus
    scan shuffle; the shortlist side broadcasts. The refine cost is
    independent of corpus size, which is why production systems default
    to it rather than growing the codebook."""
    scored = _residual_scored(spark, sf_dir)
    w_short = Window.partitionBy("query_id").orderBy("adc", "vec_id")
    shortlist = (
        scored.withColumn("rnk", F.row_number().over(w_short))
        .filter(F.col("rnk") <= RERANK_C)
        .select("query_id", "vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    refined = (
        F.broadcast(shortlist)
        .join(emb.select("vec_id", F.col("e").alias("ce")), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.expr(cosine_rounded_sql("qe", "ce", 4)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


@register(
    "similarity_ivf_pq_rerank_recall",
    category="similarity",
    oracle=f"""
    WITH bf AS (
        SELECT * FROM ({{BF}}) t
    ),
    ipq AS (
        SELECT * FROM ({{IPQ}}) t
    )
    SELECT bf.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(ipq.vec_id) AS BIGINT) AS n_hits,
           CAST(round(COUNT(ipq.vec_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS recall
    FROM bf LEFT JOIN ipq ON bf.query_id = ipq.query_id AND bf.vec_id = ipq.vec_id
    GROUP BY bf.query_id
    """.format(
        BF=REGISTRY["similarity_topk_bruteforce"].oracle,
        IPQ="{RERANK}",
    ),
)
def similarity_ivf_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the two-stage (ADC shortlist + exact refine) serving
    path against the brute force — the top rung of the recall ladder
    this engine monitors: non-residual ADC < trained-residual ADC <
    refine, all under the shared probed-cell ceiling. The remaining gap
    to the ceiling is pure shortlist misses (true neighbors the ADC
    ranked below RERANK_C), the knob a deployment turns before touching
    the index itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = tracked_persist(
        emb.select("vec_id", as_double("embedding").alias("e"))
    )
    bf = _bruteforce_topk(base).select("query_id", "vec_id")
    ipq = similarity_ivf_pq_rerank_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(ipq, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).cast("double").alias("recall"),
        )
    )


REGISTRY["similarity_ivf_pq_rerank_recall"].oracle = REGISTRY[
    "similarity_ivf_pq_rerank_recall"
].oracle.format(RERANK=REGISTRY["similarity_ivf_pq_rerank_topk"].oracle)


# ---------------------------------------------------------------------------
# Matryoshka prefix-dimension retrieval (Kusupati et al. 2022, "Matryoshka
# Representation Learning"; the OpenAI / nomic "shortening embeddings"
# serving pattern): score the corpus on the FIRST MRL_PREFIX dimensions
# only, shortlist, then re-rank the shortlist with full-dimension exact
# cosine. Complements the IVF-PQ family: compression along the DIMENSION
# axis instead of the codebook axis, with the same two-stage refine shape.
# ---------------------------------------------------------------------------

MRL_PREFIX = 32  # coarse pass reads dims [0, 32) of 64 (the canonical MRL halving)
MRL_SHORT = 40  # shortlist size per query fed to the full-dim rerank


def _matryoshka_serve(pref: DataFrame, full: DataFrame) -> DataFrame:
    """The two-stage Matryoshka serve, shared VERBATIM by the in-memory
    op and the persisted-sidecar sink (which shares its oracle — one
    body guarantees they cannot diverge): coarse cosine over the
    prefix frame (vec_id, p) shortlists MRL_SHORT per query, exact
    full-dim cosine over the full frame (vec_id, e) re-ranks to TOP_K."""
    qp = pref.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("p").alias("qp")
    )
    w_coarse = Window.partitionBy("query_id").orderBy(
        F.col("coarse").desc(), "vec_id"
    )
    shortlist = (
        F.broadcast(qp)
        .join(pref, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.expr(cosine_rounded_sql("qp", "p", 4)).alias("coarse"),
        )
        .withColumn("crank", F.row_number().over(w_coarse))
        .filter(F.col("crank") <= MRL_SHORT)
        .select("query_id", "vec_id")
    )
    q = full.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    refined = (
        F.broadcast(shortlist)
        .join(full.select("vec_id", F.col("e").alias("ce")), "vec_id")
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.expr(cosine_rounded_sql("qe", "ce", 4)).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        refined.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


@register(
    "similarity_matryoshka_topk",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH coarse AS (
        SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
               q.embedding AS qe, c.embedding AS ce,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(
                                q.embedding[1:{MRL_PREFIX}]::DOUBLE[],
                                c.embedding[1:{MRL_PREFIX}]::DOUBLE[]), 4) DESC,
                            c.vec_id
               ) AS crank
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
        JOIN embeddings c ON c.vec_id <> q.vec_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
        SELECT query_id, vec_id,
               CAST(round(list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]), 4) AS DOUBLE) AS cos_sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY round(list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]), 4) DESC,
                            vec_id
               ) AS rank
        FROM coarse WHERE crank <= {MRL_SHORT}
    ) WHERE rank <= {TOP_K}
    """,
)
def similarity_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage Matryoshka retrieval: coarse cosine on the first
    {MRL_PREFIX} of 64 dimensions shortlists MRL_SHORT candidates per
    query; exact full-dimension cosine re-ranks the shortlist to top-k.

    Scale: the coarse pass is the bandwidth win — it needs only the
    prefix slice of every vector, so with the prefix stored as its own
    column (or a skinny sidecar table, the standard MRL serving layout)
    the corpus scan reads {MRL_PREFIX}/64 = 1/2 of the vector bytes and
    computes 1/2 of the multiply-adds (prefix 16 was measured too: 2x
    less I/O again but per-query recall hits 0 on this isotropic corpus
    at sf0.1 - real MRL-trained embeddings front-load information; these
    synthetic vectors do not, so the halving is the honest setting); queries broadcast, the corpus
    never shuffles. The rerank touches exactly |Q| x {MRL_SHORT} full
    vectors via a key join (point lookups, same refine shape as
    similarity_ivf_pq_rerank_topk) — full-width reads are shortlist-
    bounded, independent of corpus size."""
    emb = tracked_persist(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", as_double("embedding").alias("e")
        )
    )
    pref = emb.select("vec_id", F.slice("e", 1, MRL_PREFIX).alias("p"))
    return _matryoshka_serve(pref, emb)


@register(
    "similarity_matryoshka_recall",
    category="similarity",
    oracle=f"""
    WITH bf AS (
        SELECT * FROM ({REGISTRY["similarity_topk_bruteforce"].oracle}) t
    ),
    mrl AS (
        SELECT * FROM ({{MRL}}) t
    )
    SELECT bf.query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(mrl.vec_id) AS BIGINT) AS n_hits,
           CAST(round(COUNT(mrl.vec_id) * 1.0 / COUNT(*), 4) AS DOUBLE) AS recall
    FROM bf LEFT JOIN mrl ON bf.query_id = mrl.query_id AND bf.vec_id = mrl.vec_id
    GROUP BY bf.query_id
    """,
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the Matryoshka two-stage retrieval against exact brute
    force, per query — the drift monitor for the prefix-dim index, same
    contract as similarity_ivf_pq_rerank_recall."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = tracked_persist(
        emb.select("vec_id", as_double("embedding").alias("e"))
    )
    bf = _bruteforce_topk(base).select("query_id", "vec_id")
    mrl = similarity_matryoshka_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("hit")
    )
    return (
        bf.join(mrl, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("hit").cast("long").alias("n_hits"),
            F.round(F.count("hit") / F.count(F.lit(1)), 4).cast("double").alias("recall"),
        )
    )


REGISTRY["similarity_matryoshka_recall"].oracle = REGISTRY[
    "similarity_matryoshka_recall"
].oracle.format(MRL=REGISTRY["similarity_matryoshka_topk"].oracle)


@register(
    "sink_matryoshka_prefix_sidecar",
    category="sink",
    oracle=REGISTRY["similarity_matryoshka_topk"].oracle,
)
def sink_matryoshka_prefix_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once / serve-many for Matryoshka retrieval: the build phase
    writes the vector store SPLIT along the dimension axis — a skinny
    ``prefix`` sidecar (vec_id + the first {MRL_PREFIX} dims) and the
    ``full`` vector table — and the serve phase answers top-k from the
    read-back artifacts alone. Shares similarity_matryoshka_topk's
    oracle VERBATIM: serving from the persisted split layout must equal
    serving from memory (the sink_ann_index_partitioned round-trip
    precedent — a mismatch indicts the sink/source layer, not the math).

    This is the MRL serving layout the in-memory op's docstring claims:
    the coarse pass SCANS ONLY THE SIDECAR — {MRL_PREFIX}/64 = 1/2 of
    the vector bytes ever cross the wire for the corpus-wide stage
    (tests/test_layout.py asserts the coarse leg's FileScan reads the
    sidecar path and never the full table's vector column) — while the
    full-width table is touched only by the |Q| x {MRL_SHORT} shortlist
    key join. At 100 TB the sidecar is the only corpus-wide read, and
    halving it halves the dominant cost; deeper truncation ladders
    (16/8 dims) shrink it further on MRL-trained embeddings (measured
    unusable on THIS isotropic corpus — see the topk docstring).

    The store lives under the process's scratch root, keyed by the
    table's stat and published by one rename, so reruns in the process
    reuse one build and a data change keys a fresh path."""
    import os

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("e")
    )
    base = _store_dir(sf_dir, "embeddings", "ann_index_mrl_sidecar")

    def build_into(stage: str) -> None:
        emb.select(
            "vec_id", F.slice("e", 1, MRL_PREFIX).alias("p")
        ).write.parquet(os.path.join(stage, "prefix"))
        emb.write.parquet(os.path.join(stage, "full"))

    _build_store_atomically(base, build_into)

    # ---- serve from the persisted split layout only ----
    pref = spark.read.parquet(os.path.join(base, "prefix"))
    full = spark.read.parquet(os.path.join(base, "full"))
    return _matryoshka_serve(pref, full)


# ---------------------------------------------------------------------------
# Embedding-geometry QA: anisotropy / variance-spectrum audit. The ANN
# index family above has two recorded negative results (OPQ-lite, MRL
# prefix-16) that are re-openable "if the corpus gains anisotropic
# structure" (BASELINE.md) — this op is the monitor that detects that
# condition from the corpus itself, so re-running the ablations is a
# data-triggered decision instead of a guess.
# ---------------------------------------------------------------------------


@register(
    "embedding_anisotropy_report",
    category="similarity",
    bench=True,
    oracle=f"""
    WITH el AS ({_km_el_sql()}),
    dim AS (
        SELECT i,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(e AS HUGEINT)) AS HUGEINT) AS s1,
               CAST(SUM(CAST(e AS HUGEINT) * e) AS HUGEINT) AS s2
        FROM el GROUP BY i
    ),
    var AS (
        SELECT i, n, CAST(n AS HUGEINT) * s2 - s1 * s1 AS numer FROM dim
    ),
    tot AS (
        SELECT CAST(SUM(numer) AS HUGEINT) AS tot_numer,
               CAST('1' || repeat('0',
                    GREATEST(0, LENGTH(CAST(MAX(numer) AS VARCHAR)) - 14))
                    AS HUGEINT) AS red_k
        FROM var
    ),
    pr AS (
        SELECT CAST((2 * tot_red * tot_red * 1000000 + tot_sq_red)
                    // (2 * NULLIF(tot_sq_red, 0)) AS BIGINT) AS pr_micro
        FROM (
            SELECT CAST(SUM(numer // red_k) AS HUGEINT) AS tot_red,
                   CAST(SUM((numer // red_k) * (numer // red_k)) AS HUGEINT)
                       AS tot_sq_red
            FROM var CROSS JOIN tot
        )
    ),
    ranked AS (
        SELECT i, n, numer,
               ROW_NUMBER() OVER (ORDER BY numer DESC, i) AS dim_rank,
               CAST(SUM(numer) OVER (ORDER BY numer DESC, i
                                     ROWS UNBOUNDED PRECEDING) AS HUGEINT)
                   AS cum_numer
        FROM var
    )
    SELECT CAST(dim_rank AS BIGINT) AS dim_rank,
           CAST(i - 1 AS INT) AS dim,
           CAST(numer AS DOUBLE) / (CAST(n AS DOUBLE) * n)
               / {CENT_SCALE * CENT_SCALE} AS variance,
           CAST(numer AS DOUBLE) / NULLIF(CAST(tot_numer AS DOUBLE), 0)
               AS var_share,
           CAST(cum_numer AS DOUBLE) / NULLIF(CAST(tot_numer AS DOUBLE), 0)
               AS cum_share,
           CAST(pr_micro AS DOUBLE) / 1000000 AS participation_ratio,
           pr_micro < {EMB_DIM * 500_000} AS is_anisotropic
    FROM ranked CROSS JOIN tot CROSS JOIN pr
    """,
)
def embedding_anisotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-spectrum / anisotropy audit of the embedding corpus: per
    dimension, the element variance, its share of total variance and the
    cumulative share down the sorted spectrum, plus the participation
    ratio PR = (Σσ²)² / Σ(σ²)² — the effective dimensionality (PR = d
    for isotropic spectra, PR → 1 when one direction dominates) — and an
    is_anisotropic verdict at PR < d/2. This is the corpus-side trigger
    for the OPQ/MRL ablations BASELINE.md records as re-openable on
    anisotropic structure: run the report, and the boolean says whether
    rotation/prefix tricks have anything to bite on.

    Determinism: everything upstream of the output doubles is exact
    decimal(38,0)/HUGEINT arithmetic on milli-unit elements — per-dim
    variance as the integer numerator n·Σe² − (Σe)² over denominator n²
    (int64 would overflow that product at N ~ 3e6 embeddings; decimal
    holds to N ~ 1e16), shares as ratios of those integer numerators,
    the cumulative share from an integer running sum (never a double
    window sum — segment-tree re-association would diverge). PR's
    quadratic Σnumer² would need twice the digits, so the numers are
    first reduced by a data-derived power of ten (string-length of the
    max numer — no transcendental log10 at a power-of-ten boundary) to
    < 1e14 each, keeping both PR operands inside 38 digits at ANY
    corpus size, and PR itself is half-up-rounded to micro precision
    in exact integer division — so the verdict compare is pure-integer
    and the reported double is an exact small-int cast. Share/variance
    doubles are ONE division of bit-identical operands (exact casts
    below 2^53, i.e. every test SF; beyond that a last-ulp drift in a
    monitor ratio, never a crash).

    Scale: one element-explode (n·d rows) collapsing map-side to d
    partial-agg rows; everything after is arithmetic on a d-row frame
    (the global window orders 64 rows — constant, not corpus-scale).
    At 100 TB the explode is the scan cost; d stays constant.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    el = emb.select(F.posexplode(as_milli("embedding")).alias("i0", "e"))
    dim = el.groupBy((F.col("i0") + 1).alias("i")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("e").cast(dec)).cast(dec).alias("s1"),
        # widen BEFORE multiplying (long*long wraps/ANSI-raises above
        # ~3.0e9 milli-units while the oracle's CAST(e AS HUGEINT) * e
        # stays exact) — matches the oracle's cast-before-multiply shape
        F.sum(F.col("e").cast(dec) * F.col("e")).cast(dec).alias("s2"),
    )
    var = dim.select(
        "i", "n",
        (F.col("n").cast(dec) * F.col("s2") - F.col("s1") * F.col("s1"))
        .cast(dec).alias("numer"),
    )
    var = tracked_persist(var)
    # red_k = 10^max(0, digits(max numer) − 14): reduces every numer
    # below 1e14 so tot_red² and Σ numer_red² both fit decimal(38,0);
    # built from the string length (exact) and a '1'||'0'*g literal
    # (power(10, g) is a double above 1e22 and would round).
    tot = var.agg(
        F.sum("numer").cast(dec).alias("tot_numer"),
        F.max("numer").cast(dec).alias("max_numer"),
    ).select(
        "tot_numer",
        F.expr(
            "CAST(concat('1', repeat('0', greatest(0, "
            "length(CAST(max_numer AS STRING)) - 14))) AS decimal(38,0))"
        ).alias("red_k"),
    )
    pr_row = (
        var.crossJoin(F.broadcast(tot))
        .select(F.expr("numer div red_k").alias("numer_red"))
        .agg(
            F.sum(F.col("numer_red").cast(dec)).cast(dec).alias("tot_red"),
            F.sum(F.col("numer_red").cast(dec) * F.col("numer_red"))
            .cast(dec).alias("tot_sq_red"),
        )
        # half-up micro rounding in exact integer division: (2a·10⁶+d)
        # div 2d; NULLIF keeps the zero-variance corpus NULL, not an
        # ANSI DIVIDE_BY_ZERO (Spark) vs NaN (DuckDB) split
        .select(
            F.expr(
                "(2 * tot_red * tot_red * 1000000 + tot_sq_red) div "
                "(2 * nullif(tot_sq_red, 0))"
            ).cast("long").alias("pr_micro")
        )
    )
    w = Window.orderBy(F.col("numer").desc(), "i")
    ranked = var.select(
        "i", "n", "numer",
        F.row_number().over(w).alias("dim_rank"),
        F.sum("numer").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast(dec).alias("cum_numer"),
    )
    tot_nz = F.nullif(F.col("tot_numer").cast("double"), F.lit(0.0))
    return (
        ranked.crossJoin(F.broadcast(tot.select("tot_numer")))
        .crossJoin(F.broadcast(pr_row))
        .select(
            F.col("dim_rank").cast("long").alias("dim_rank"),
            (F.col("i") - 1).cast("int").alias("dim"),
            (
                F.col("numer").cast("double")
                / (F.col("n").cast("double") * F.col("n"))
                / F.lit(float(CENT_SCALE * CENT_SCALE))
            ).alias("variance"),
            (F.col("numer").cast("double") / tot_nz).alias("var_share"),
            (F.col("cum_numer").cast("double") / tot_nz).alias("cum_share"),
            (F.col("pr_micro").cast("double") / F.lit(1_000_000.0))
            .alias("participation_ratio"),
            (F.col("pr_micro") < F.lit(EMB_DIM * 500_000))
            .alias("is_anisotropic"),
        )
    )


@register(
    "sink_ann_index_compact",
    category="sink",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    {_IVF_CTES},
    pel AS ({_PEL_SQL}),
    refc AS (
        SELECT a.cent_id, v.m, v.j,
               CAST(FLOOR(SUM(v.e) * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS c
        FROM pel v JOIN iassign a ON a.vec_id = v.vec_id
        WHERE v.vec_id % 10 NOT IN (3, 7)
        GROUP BY a.cent_id, v.m, v.j
    ),
    rel AS (
        SELECT v.vec_id, v.m, v.j, v.e - c.c AS e
        FROM pel v
        JOIN iassign a ON a.vec_id = v.vec_id
        JOIN refc c ON c.cent_id = a.cent_id AND c.m = v.m AND c.j = v.j
    ),
    rel_base AS (SELECT * FROM rel WHERE vec_id % 10 NOT IN (3, 7)),
    rseeds AS (
        SELECT vec_id AS seed_vec_id FROM embeddings
        WHERE vec_id % 10 NOT IN (3, 7)
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {PQ_K}),
    {_APPEND_LLOYD_CTES},
    fin AS ({_pq_lloyd_final_sql("rel", _APPEND_FINAL)})
    SELECT CAST(a.cent_id AS BIGINT) AS cent_id,
           CAST(COUNT(*) AS BIGINT) AS n_codes,
           CAST(SUM(f.k) AS BIGINT) AS sum_code_k,
           CAST(SUM(f.vec_id) AS BIGINT) AS sum_vec_id,
           TRUE AS codes_match,
           TRUE AS single_file_after
    FROM fin f JOIN iassign a ON a.vec_id = f.vec_id
    GROUP BY a.cent_id
    """,
)
def sink_ann_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index COMPACTION for the appended ANN store — the maintenance
    step that closes the add-between-retrains loop: sink_ann_index_append
    lands each epoch as new files inside the existing ``cent_id=``
    directories, so a long append history degenerates every partition
    into a pile of small files (the serving tier then pays
    open-cost × files per probed cell — layout_compaction_plan's
    small-file tax, materialized inside an index). This operator
    rewrites the appended store with ONE file per coarse cell
    (repartition by cent_id before a partitioned write — each cell lands
    in exactly one task) into a compacted store with the same
    stage-then-rename build as the sketch stores,
    then serves per-cell audit rows FROM THE COMPACTED FILES: code
    count, exact checksum aggregates (Σ code_k, Σ vec_id), a
    codes_match boolean (null-safe full-outer frame identity against
    the pre-compaction store — compaction must move BYTES, never a
    single code), and single_file_after (the compaction contract
    itself). The oracle recomputes the appended store's codes end-to-end
    (same CTE fragments as sink_ann_index_append) and aggregates per
    cell — so a compaction that dropped, duplicated, or re-encoded any
    row is a hash mismatch, not a lint warning.

    Scale: compaction reads the code table once and shuffles it once on
    cent_id (codes are a few bytes per vector — the INDEX, not the
    vectors); the audit is per-cell metadata. At 100 TB this is the
    nightly job that keeps probe latency flat as epochs accumulate.
    """
    import os

    # ensure the appended store exists and get its read-back frame
    # (module-level callable = the unwrapped operator; calling the
    # REGISTRY wrapper would release this query's own caches)
    orig = sink_ann_index_append(spark, sf_dir)

    base = _store_dir(sf_dir, "embeddings", "ann_index_compact")
    codes_path = os.path.join(base, "codes")

    def build_into(stage: str) -> None:
        (
            orig.repartition("cent_id")
            .write.partitionBy("cent_id")
            .parquet(os.path.join(stage, "codes"))
        )

    _build_store_atomically(base, build_into)

    compacted = tracked_persist(
        spark.read.parquet(codes_path).select(
            F.col("vec_id").cast("long").alias("vec_id"),
            F.col("cent_id").cast("long").alias("cent_id"),
            F.col("m").cast("int").alias("m"),
            F.col("code_k").cast("long").alias("code_k"),
        )
    )
    # frame identity: every (vec_id, m) key present on both sides with
    # identical (cent_id, code_k) — a full outer join surfaces drops,
    # duplicates and re-encodes as null-safe inequality
    o = orig.select(
        "vec_id", "m",
        F.col("cent_id").alias("o_cent"), F.col("code_k").alias("o_k"),
    )
    c = compacted.select(
        "vec_id", "m",
        F.col("cent_id").alias("c_cent"), F.col("code_k").alias("c_k"),
    )
    match = (
        o.join(c, ["vec_id", "m"], "full_outer")
        .select(
            F.coalesce("c_cent", "o_cent").alias("cent_id"),
            (
                F.col("o_cent").eqNullSafe(F.col("c_cent"))
                & F.col("o_k").eqNullSafe(F.col("c_k"))
            ).alias("ok"),
        )
        .groupBy("cent_id")
        .agg(F.bool_and("ok").alias("codes_match"))
    )
    # the compaction contract: repartition("cent_id") puts each cell in
    # exactly one task, so each cent_id= dir holds exactly one data file
    def _one_file(cell_dir: str) -> bool:
        return (
            sum(
                1
                for f in os.listdir(cell_dir)
                if f.endswith(".parquet")
            )
            == 1
        )

    single = spark.createDataFrame(
        [
            (int(d.split("=", 1)[1]), _one_file(os.path.join(codes_path, d)))
            for d in os.listdir(codes_path)
            if d.startswith("cent_id=")
        ],
        "cent_id long, single_file_after boolean",
    )
    return (
        compacted.groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_codes"),
            F.sum("code_k").cast("long").alias("sum_code_k"),
            F.sum("vec_id").cast("long").alias("sum_vec_id"),
        )
        .join(F.broadcast(match), "cent_id")
        .join(F.broadcast(single), "cent_id")
        .select(
            "cent_id", "n_codes", "sum_code_k", "sum_vec_id",
            "codes_match", "single_file_after",
        )
    )
