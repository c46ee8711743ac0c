"""Deduplication operators for training-data pipelines: exact, MinHash+LSH
near-dup, SimHash near-dup, exact n-gram Jaccard, and embedding-cosine
near-dup (BASELINE.json north-star set).

Scale designs (the whole point at 100 TB):
- exact: hash-groupBy on the dedup key — one shuffle, map-side combine;
- MinHash LSH: shingle → per-seed min-hash signature → band hashes →
  candidates = equi-join on (band, hash) → verify exact Jaccard on the
  tiny candidate set. Quadratic work only inside LSH buckets, never
  globally; this is the published Broder/LSH construction.
- SimHash: banded fingerprint; pigeonhole guarantees hamming ≤ 3 pairs
  share one of 4 exact bands, so candidates come from an equi-join too.
- embedding cosine: label-blocked pair generation (a real pipeline blocks
  on a cheap partition key — cluster id / shard — before the O(n²) step).

Determinism: every signature is md5-derived, so Spark and DuckDB compute
identical candidates and identical similarity values (see
functions/texttools.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from hyperloglog_pyspark_spark.functions.texttools import (
    md5_long,
    md5_long_sql,
    shingles_sql,
    word_shingles,
)
from hyperloglog_pyspark_spark import registry as registry_mod
from hyperloglog_pyspark_spark.registry import REGISTRY, register, tracked_persist
from hyperloglog_pyspark_spark.sources.catalog import load_table

N_SEEDS = 12
BAND_R = 3  # rows per band → N_SEEDS/BAND_R = 4 bands
ACC_BAND_R2 = 2  # looser banding (6 bands × 2 rows) for the accuracy report
JACCARD_T = 0.8


@register(
    "dedup_exact",
    category="dedup",
    bench=True,
    oracle="""
    SELECT event_type, COUNT(*) AS n_kept, CAST(SUM(n_dups) AS BIGINT) AS n_dropped
    FROM (
        SELECT event_type, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, event_type) - 1 AS n_dups
        FROM events
    )
    WHERE rn = 1
    GROUP BY event_type
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on (user_id, event_type), keeping the earliest event —
    a deterministic survivor rule (never dropDuplicates, whose survivor is
    partition-order dependent), summarized per event type.

    Scale: hash-groupBy on the dedup key — one shuffle; with storage
    bucketed on the key it is shuffle-free.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    survivors = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_dups", F.count(F.lit(1)).over(Window.partitionBy("user_id", "event_type")) - 1)
        .filter(F.col("rn") == 1)
    )
    return survivors.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_dups").alias("n_dropped"),
    )


def ccnet_normalize(col: str | Column) -> Column:
    """CCNet-style text canonicalization before the exact-dedup digest:
    casefold, collapse every punctuation/whitespace run to one space,
    trim. Catches trivially-reformatted copies (case flips, padding,
    punctuation swaps) that a raw-byte digest misses and MinHash would
    otherwise spend signatures on. ASCII character class so Spark and
    DuckDB regex engines agree byte-for-byte (the corpus is ASCII; a
    unicode corpus would pin \\p{{...}} classes on both engines first)."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


@register(
    "dedup_normalized_exact",
    category="dedup",
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               md5(text) AS raw_key,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS norm_key
        FROM documents
    ),
    r AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS raw_groups,
               CAST(SUM(cnt - 1) AS BIGINT) AS raw_dropped,
               CAST(SUM(tok_total - tok_keep) AS BIGINT) AS raw_tokens_reclaimed
        FROM (SELECT raw_key, COUNT(*) AS cnt,
                     SUM(n_tokens) AS tok_total,
                     arg_min(n_tokens, doc_id) AS tok_keep
              FROM base GROUP BY raw_key)
    ),
    n AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS norm_groups,
               CAST(SUM(cnt - 1) AS BIGINT) AS norm_dropped,
               CAST(SUM(tok_total - tok_keep) AS BIGINT) AS norm_tokens_reclaimed
        FROM (SELECT norm_key, COUNT(*) AS cnt,
                     SUM(n_tokens) AS tok_total,
                     arg_min(n_tokens, doc_id) AS tok_keep
              FROM base GROUP BY norm_key)
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM base)
    SELECT n_docs, raw_groups, raw_dropped, raw_tokens_reclaimed,
           norm_groups, norm_dropped, norm_tokens_reclaimed,
           norm_dropped - raw_dropped AS extra_dropped,
           norm_tokens_reclaimed - raw_tokens_reclaimed
               AS extra_tokens_reclaimed
    FROM t CROSS JOIN r CROSS JOIN n
    """,
)
def dedup_normalized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-key exact dedup (the CCNet preprocessing step): digest
    the CANONICALIZED text — casefold + punctuation/whitespace collapse,
    ``ccnet_normalize`` — next to the raw-byte digest, dedup on each with
    the min-doc_id survivor rule, and report the reclaimed-tokens delta:
    how many extra duplicate docs (and their tokens) the normalization
    catches that the raw digest misses. On real crawls this delta is the
    cheap win that keeps MinHash signatures for GENUINE near-dups; on
    this synthetic corpus it is an honest zero (no case/punct variants
    exist — pinned non-zero on a reformatted-copies fixture in
    tests/test_fuzz_dedup.py).

    Determinism: keys are md5 digests, survivor tokens via min_by on the
    unique doc_id — no dropDuplicates partition-order dependence; every
    output is an exact BIGINT.

    Scale: ONE corpus scan projecting (doc_id, n_tokens, two digests) —
    persisted so the two key-grouped aggregations reuse it — then two
    digest-keyed shuffles of thin rows (32-char key + two longs) and a
    scalar crossJoin. Bucketing the store by digest makes the heavy one
    shuffle-free; the reduce output is 2 rows per group key, metadata
    scale at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = tracked_persist(
        docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.md5("text").alias("raw_key"),
            F.md5(ccnet_normalize("text")).alias("norm_key"),
        )
    )

    def _summary(key: str, prefix: str) -> DataFrame:
        g = base.groupBy(key).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_tokens").alias("tok_total"),
            F.min_by("n_tokens", "doc_id").alias("tok_keep"),
        )
        return g.agg(
            F.count(F.lit(1)).cast("long").alias(f"{prefix}_groups"),
            F.sum(F.col("cnt") - 1).cast("long").alias(f"{prefix}_dropped"),
            F.sum(F.col("tok_total") - F.col("tok_keep")).cast("long")
            .alias(f"{prefix}_tokens_reclaimed"),
        )

    tot = base.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        tot.crossJoin(F.broadcast(_summary("raw_key", "raw")))
        .crossJoin(F.broadcast(_summary("norm_key", "norm")))
        .select(
            "n_docs", "raw_groups", "raw_dropped", "raw_tokens_reclaimed",
            "norm_groups", "norm_dropped", "norm_tokens_reclaimed",
            (F.col("norm_dropped") - F.col("raw_dropped"))
            .alias("extra_dropped"),
            (F.col("norm_tokens_reclaimed") - F.col("raw_tokens_reclaimed"))
            .alias("extra_tokens_reclaimed"),
        )
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    return (
        docs.filter(F.size(F.split("text", " ")) >= 3)
        .select("doc_id", word_shingles("text", 3).alias("sh"))
    )


_SHINGLED_SQL = f"""
        SELECT doc_id, {shingles_sql(3)} AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3
"""


# Universal-hash permutation parameters: sig_s(x) = (A_s·h(x) + B_s) mod P,
# P = 2^31 − 1 (Mersenne prime). One md5 per shingle (h), then N_SEEDS cheap
# integer permutations — instead of N_SEEDS md5 calls per shingle. A/B are
# md5-derived constants inlined as literals into BOTH engines' pipelines.
_MINHASH_P = (1 << 31) - 1


def _perm_const(seed: int, which: str) -> int:
    import hashlib

    h = int(hashlib.md5(f"minhash:{which}:{seed}".encode()).hexdigest()[:15], 16)
    return h % (_MINHASH_P - 1) + 1  # in [1, P-1]


_PERM_A = [_perm_const(s, "a") for s in range(N_SEEDS)]
_PERM_B = [_perm_const(s, "b") for s in range(N_SEEDS)]

# 60-bit md5 of the shingle folded into [0, P-1]; A·h + B < 2^62 fits BIGINT.
_H_SQL = f"({md5_long_sql('sh_el')} % {_MINHASH_P})"


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """Per-doc minhash signature columns sig0..sig{N_SEEDS-1}: one md5 per
    shingle folded to [0, P-1], then each seed a cheap integer permutation
    of that hash (A·h+B mod P), not another md5. Both projections parse
    as single SQL strings — the per-seed Column-lambda build cost ~120
    py4j round-trips per plan (round-15 chatter diet; same expressions
    token for token)."""
    hashed = docs.selectExpr(
        "doc_id",
        "transform(sh, x -> CAST(conv(substring(md5(x), 1, 15), 16, 10)"
        f" AS BIGINT) % {_MINHASH_P}) AS ha",
    )
    sig_exprs = [
        f"CAST(array_min(transform(ha, h -> (h * {_PERM_A[s]} + {_PERM_B[s]})"
        f" % {_MINHASH_P})) AS STRING) AS sig{s}"
        for s in range(N_SEEDS)
    ]
    return hashed.selectExpr("doc_id", *sig_exprs)


def _band_table(sigs: DataFrame, band_r: int = BAND_R) -> DataFrame:
    """(doc_id, band, band_hash) rows: each band hash is the md5 of its
    ``band_r`` consecutive signature values — the LSH bucket key."""
    band_cols = [
        "md5(concat_ws('|', {})) AS band{}".format(
            ", ".join(f"sig{s}" for s in range(b * band_r, (b + 1) * band_r)), b
        )
        for b in range(N_SEEDS // band_r)
    ]
    bands_arr = ", ".join(f"band{b}" for b in range(N_SEEDS // band_r))
    return sigs.selectExpr("doc_id", *band_cols).selectExpr(
        "doc_id",
        f"posexplode(array({bands_arr})) AS (band, band_hash)",
    )


def _lsh_candidates(sigs: DataFrame, band_r: int = BAND_R) -> DataFrame:
    """Candidate pairs (doc_a < doc_b) from band-hash bucket collisions.

    Candidates by bucket aggregation, not a self-join: one shuffle of
    (band, hash, doc_id), pairs emitted only inside buckets. Equivalent
    to the join formulation but scans/builds the signature table once —
    and bucket size IS the LSH knob that bounds the quadratic work.
    ``band_r`` = signature rows per band: fewer rows → looser buckets →
    higher recall at lower similarity (the (b, r) S-curve knob).

    A boilerplate-whale bucket (a cookie banner shared by thousands of
    documents) explodes |b|²/2 pairs in one task; SCALE.md §skewed band
    measures it and why no guard is applied."""
    bands = _band_table(sigs, band_r)
    ids_sorted = F.sort_array(F.collect_list("doc_id"))
    pair_structs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    buckets = (
        bands.groupBy("band", "band_hash")
        .agg(ids_sorted.alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(F.explode(pair_structs).alias("p")).select(
        "p.doc_a", "p.doc_b"
    )
    return pairs.distinct()


@register(
    "dedup_minhash_lsh",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH docs AS ({_SHINGLED_SQL}),
    hashes AS (
        SELECT doc_id, {_H_SQL} AS h
        FROM (SELECT doc_id, unnest(sh) AS sh_el FROM docs)
    ),
    sig AS (
        SELECT doc_id, s,
               CAST(min(CASE {' '.join(f'WHEN s = {i} THEN ({a} * h + {b}) % {_MINHASH_P}' for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B)))} END) AS VARCHAR) AS sig
        FROM hashes
        CROSS JOIN (SELECT unnest(range(0, {N_SEEDS})) AS s)
        GROUP BY doc_id, s
    ),
    bands AS (
        SELECT doc_id, s // {BAND_R} AS band,
               md5(string_agg(sig, '|' ORDER BY s)) AS band_hash
        FROM sig GROUP BY doc_id, s // {BAND_R}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(round(CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))), 6) AS DOUBLE)
               AS jaccard
    FROM cand
    JOIN docs da ON da.doc_id = cand.doc_a
    JOIN docs db ON db.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
          / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh))) >= {JACCARD_T}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate pairs (word 3-gram shingles, 12
    universal-hash minhash permutations over one md5 per shingle, 4 bands
    × 3 rows), verified with exact Jaccard ≥ 0.8.

    Candidate generation is an equi-join on (band, band_hash) — the only
    pairs ever materialized are bucket collisions, which is what keeps
    near-dup detection feasible on a 100 TB corpus.
    """
    # The shingled corpus feeds signature generation AND pair verification;
    # persist it so the expensive shingle+md5 pass runs once, not once per
    # downstream branch (at warehouse scale this is the checkpointed
    # signature table every production LSH pipeline materializes). Tracked:
    # a registry "cache" entry, evicted under the session's cache budget.
    docs = tracked_persist(_shingled(spark, sf_dir))
    cand = _lsh_candidates(_minhash_sigs(docs))
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .filter(jac >= JACCARD_T)
        .select("doc_a", "doc_b", F.round(jac, 6).cast("double").alias("jaccard"))
    )


@register(
    "dedup_minhash_accuracy",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH docs AS ({_SHINGLED_SQL}),
    hashes AS (
        SELECT doc_id, {_H_SQL} AS h
        FROM (SELECT doc_id, unnest(sh) AS sh_el FROM docs)
    ),
    sig AS (
        SELECT doc_id, s,
               CAST(min(CASE {' '.join(f'WHEN s = {i} THEN ({a} * h + {b}) % {_MINHASH_P}' for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B)))} END) AS VARCHAR) AS sig
        FROM hashes
        CROSS JOIN (SELECT unnest(range(0, {N_SEEDS})) AS s)
        GROUP BY doc_id, s
    ),
    bands AS (
        SELECT doc_id, s // {BAND_R} AS band,
               md5(string_agg(sig, '|' ORDER BY s)) AS band_hash
        FROM sig GROUP BY doc_id, s // {BAND_R}
    ),
    bands2 AS (
        SELECT doc_id, s // {ACC_BAND_R2} AS band,
               md5(string_agg(sig, '|' ORDER BY s)) AS band_hash
        FROM sig GROUP BY doc_id, s // {ACC_BAND_R2}
    ),
    cand AS (
        SELECT DISTINCT doc_a, doc_b FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands2 a
            JOIN bands2 b ON a.band = b.band AND a.band_hash = b.band_hash
                         AND a.doc_id < b.doc_id
        )
    ),
    m AS (
        SELECT c.doc_a, c.doc_b,
               COUNT(*) FILTER (WHERE sa.sig = sb.sig) AS matches
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.doc_a
        JOIN sig sb ON sb.doc_id = c.doc_b AND sb.s = sa.s
        GROUP BY c.doc_a, c.doc_b
    ),
    j AS (
        SELECT m.matches,
               CAST(len(list_intersect(da.sh, db.sh)) AS DOUBLE)
                 / (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
                 AS exact_j
        FROM m
        JOIN docs da ON da.doc_id = m.doc_a
        JOIN docs db ON db.doc_id = m.doc_b
    )
    SELECT LEAST(CAST(FLOOR(exact_j * 10) AS INT), 9) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(matches) AS DOUBLE) / ({N_SEEDS}.0 * COUNT(*)), 6) AS est_mean,
           ROUND(CAST(SUM(CAST(ROUND(exact_j, 6) AS DECIMAL(10,6))) AS DOUBLE)
                 / COUNT(*), 6) AS exact_mean,
           ROUND(CAST(SUM(CAST(ROUND(ABS(matches / {N_SEEDS}.0 - exact_j), 6)
                               AS DECIMAL(10,6))) AS DOUBLE) / COUNT(*), 6) AS mae
    FROM j
    GROUP BY bin
    """,
)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration report: for every LSH candidate pair
    (no verification threshold), compare the signature-agreement Jaccard
    estimate (matching components / N_SEEDS) against the exact shingle
    Jaccard, binned by exact similarity decile — the drift monitor that
    tells you whether the configured (seeds, bands, rows) still delivers
    the accuracy the dedup threshold assumes (the MinHash twin of
    similarity_recall_report for ANN).

    Scale: identical candidate-bounded shape as dedup_minhash_lsh — the
    estimate needs only the signature table (already built), and the
    exact side joins shingle arrays for candidate pairs only, never
    all-pairs. Per-pair doubles are computed in the same operation order
    on both engines and rounded to decimals BEFORE the bin sums, so the
    aggregate means are order-independent and hash-match."""
    docs = tracked_persist(_shingled(spark, sf_dir))
    sigs = tracked_persist(_minhash_sigs(docs))
    # Dual banding: the production (4×3) bands plus a looser (6×2) pass so
    # the report also samples pairs below the dedup threshold's S-curve
    # knee — calibration needs points on both sides of the threshold.
    cand = (
        _lsh_candidates(sigs)
        .unionByName(_lsh_candidates(sigs, band_r=ACC_BAND_R2))
        .distinct()
    )
    sig_arr = F.array(*[f"sig{s}" for s in range(N_SEEDS)])
    sa = sigs.select(F.col("doc_id").alias("doc_a"), sig_arr.alias("sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), sig_arr.alias("sb"))
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    exact_j = inter.cast("double") / (F.size("sh_a") + F.size("sh_b") - inter)
    matches = F.size(
        F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v)
    )
    pairs = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(da, "doc_a")
        .join(db, "doc_b")
        .select(matches.alias("matches"), exact_j.alias("exact_j"))
    )
    n = F.count(F.lit(1))
    return (
        pairs.groupBy(
            F.least(F.floor(F.col("exact_j") * 10).cast("int"), F.lit(9)).alias("bin")
        )
        .agg(
            n.cast("long").alias("n_pairs"),
            F.round(F.sum("matches").cast("double") / (float(N_SEEDS) * n), 6).alias(
                "est_mean"
            ),
            F.round(
                F.sum(F.round("exact_j", 6).cast("decimal(10,6)")).cast("double") / n, 6
            ).alias("exact_mean"),
            F.round(
                F.sum(
                    F.round(
                        F.abs(F.col("matches") / float(N_SEEDS) - F.col("exact_j")), 6
                    ).cast("decimal(10,6)")
                ).cast("double")
                / n,
                6,
            ).alias("mae"),
        )
    )


LEN_BUCKET = 16


@register(
    "dedup_ngram_jaccard",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, {shingles_sql(3)} AS sh,
               len(string_split(text, ' ')) // {LEN_BUCKET} AS lb
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 6) AS DOUBLE)
               AS jaccard
    FROM docs a JOIN docs b ON a.doc_id < b.doc_id
                           AND b.lb BETWEEN a.lb - 1 AND a.lb + 1
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard via an inverted-index count join — the exact
    baseline the LSH path approximates. Instead of enumerating every pair
    inside a length block and intersecting shingle arrays (block² array
    intersections), explode to (doc, shingle) postings and equi-join on
    the shingle: only pairs that actually share a shingle materialize, and
    a groupBy count IS |intersection| (shingles are distinct per doc).
    Work is Σ_g df(g)² — bounded by shared-content structure, not block
    size² — and the shuffle key is the shingle (high cardinality, low
    skew; AQE skew-join covers pathological grams). The length-bucket
    predicate (⌊len/16⌋ ± 1) is kept as a join filter for oracle parity."""
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id",
        word_shingles("text", 3).alias("sh"),
        F.floor(F.size(F.split("text", " ")) / LEN_BUCKET).alias("lb"),
    )
    # Persisted (tracked): postings feed both sides of the shingle join.
    # n is computed below the explode (staged select) so the Generate
    # carries two ints, not the shingle array, through every posting row.
    ex = tracked_persist(
        sh.select("doc_id", "lb", F.size("sh").alias("n"), "sh")
        .select("doc_id", "lb", "n", F.explode("sh").alias("g"))
    )
    a = ex.select(
        F.col("doc_id").alias("doc_a"), F.col("lb").alias("lb_a"), F.col("n").alias("n_a"), "g"
    )
    b = ex.select(
        F.col("doc_id").alias("doc_b"), F.col("lb").alias("lb_b"), F.col("n").alias("n_b"), "g"
    )
    inter = F.count(F.lit(1))
    return (
        a.join(
            b,
            (a["g"] == b["g"])
            & (F.col("doc_a") < F.col("doc_b"))
            & F.col("lb_b").between(F.col("lb_a") - 1, F.col("lb_a") + 1),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(inter.alias("inter"))
        .withColumn(
            "jaccard_raw",
            F.col("inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard_raw") >= 0.5)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 6).cast("double").alias("jaccard"))
    )


CONTAIN_T = 0.8  # containment threshold: |A ∩ B| / |A|


@register(
    "dedup_containment",
    category="dedup",
    oracle=f"""
    WITH docs AS ({_SHINGLED_SQL})
    SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
           CAST(len(a.sh) AS BIGINT) AS n_contained,
           CAST(len(b.sh) AS BIGINT) AS n_container,
           CAST(round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                / len(a.sh), 6) AS DOUBLE) AS containment
    FROM docs a JOIN docs b
      ON a.doc_id <> b.doc_id
     AND (len(a.sh) < len(b.sh) OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id))
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= {CONTAIN_T}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-subset detection: containment(A→B) = |A∩B| / |A|
    flags documents that are mostly QUOTED INSIDE a larger document —
    boilerplate, header/footer wrap, excerpt reposts — which symmetric
    Jaccard misses entirely (a small doc inside a big one has low Jaccard
    but containment ≈ 1). The shorter doc is reported as the contained
    side (doc-id tie-break at equal length).

    Scale: the same inverted-index postings join as dedup_ngram_jaccard —
    pairs materialize only when they share a shingle, work is Σ_g df(g)²
    — but WITHOUT the length-block predicate, precisely because
    containment pairs have very different lengths. The oracle's pairwise
    formulation is quadratic on the DuckDB side only."""
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    sh = docs.filter(F.size(F.split("text", " ")) >= 3).select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )
    ex = tracked_persist(
        sh.select("doc_id", F.size("sh").alias("n"), "sh")
        .select("doc_id", "n", F.explode("sh").alias("g"))
    )
    a = ex.select(F.col("doc_id").alias("doc_contained"), F.col("n").alias("n_contained"), "g")
    b = ex.select(F.col("doc_id").alias("doc_container"), F.col("n").alias("n_container"), "g")
    shorter_first = (F.col("n_contained") < F.col("n_container")) | (
        (F.col("n_contained") == F.col("n_container"))
        & (F.col("doc_contained") < F.col("doc_container"))
    )
    return (
        a.join(
            b,
            (a["g"] == b["g"]) & (F.col("doc_contained") != F.col("doc_container")),
        )
        .filter(shorter_first)
        .groupBy("doc_contained", "doc_container", "n_contained", "n_container")
        .agg(F.count(F.lit(1)).alias("inter"))
        .withColumn(
            "containment_raw", F.col("inter").cast("double") / F.col("n_contained")
        )
        .filter(F.col("containment_raw") >= CONTAIN_T)
        .select(
            "doc_contained",
            "doc_container",
            F.col("n_contained").cast("long").alias("n_contained"),
            F.col("n_container").cast("long").alias("n_container"),
            F.round("containment_raw", 6).cast("double").alias("containment"),
        )
    )


N_SIM_BITS = 48  # fits the 60-bit md5_long hash
SIM_BANDS = 3  # 3 bands × 16 bits; hamming ≤ 2 ⇒ ≥ 1 identical band
SIM_HAMMING = 2


@register(
    "dedup_simhash",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents
    ),
    th AS (SELECT doc_id, {md5_long_sql("token")} AS h FROM tok),
    bits AS (
        SELECT doc_id, b.b,
               CASE WHEN SUM(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) > 0
                    THEN 1 ELSE 0 END AS bit
        FROM th CROSS JOIN (SELECT unnest(range(0, {N_SIM_BITS})) AS b) b
        GROUP BY doc_id, b.b
    ),
    sim AS (
        SELECT doc_id, CAST(SUM(bit << b) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    ),
    bands AS (
        SELECT doc_id, simhash, band,
               (simhash >> (band * {N_SIM_BITS // SIM_BANDS}))
                   & {(1 << (N_SIM_BITS // SIM_BANDS)) - 1} AS band_val
        FROM sim CROSS JOIN (SELECT unnest(range(0, {SIM_BANDS})) AS band) bb
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIM_HAMMING}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 48-bit md5-vote fingerprint, banded LSH
    candidates (3 bands x 16 bits: hamming <= 2 always collides in >= 1
    band by pigeonhole), verified with exact hamming distance."""
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    tok = docs.select("doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token"))
    th = tok.select("doc_id", md5_long(F.col("token")).alias("h"))
    # Packed-lane bit voting: instead of 48 conditional SUM buffers per
    # group (the naive form — 384 B of aggregate state per doc in the
    # shuffle), pack 4 bit-counters into 16-bit lanes of one long and keep
    # 12 packed sums + COUNT(*). The majority vote for bit b is then
    # 2·cnt_b > n with cnt_b extracted by shift/mask. Lane-overflow bound:
    # exact while distinct tokens per doc < 2^15 — the top lane shifts by
    # 48, so its counter must stay below 2^15 to keep the signed-int64 SUM
    # in range (ANSI mode raises ARITHMETIC_OVERFLOW past that, a loud
    # failure, not silent corruption; enforce a document-length cap
    # upstream when corpora can exceed ~32k distinct tokens per doc).
    # The packed sums, 48 majority votes, and band array are built as
    # SQL strings parsed JVM-side in a handful of calls: composing them
    # as Column objects costs hundreds of py4j round-trips and ~1.2 s of
    # DRIVER time per invocation (measured — the plan built slower than
    # it executed).
    lanes = N_SIM_BITS // 4  # 12 packed sums, 4 counters each
    packed = [
        "SUM("
        + " + ".join(
            f"shiftleft(CAST(shiftright(h, {4 * g + j}) & 1 AS BIGINT), {16 * j})"
            for j in range(4)
        )
        + f") AS s{g}"
        for g in range(lanes)
    ]
    votes = " + ".join(
        f"(CASE WHEN (shiftright(s{b // 4}, {16 * (b % 4)}) & 65535) * 2 > n_tok"
        f" THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(N_SIM_BITS)
    )
    sim = (
        th.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"), *[F.expr(p) for p in packed])
        .select("doc_id", F.expr(votes).alias("simhash"))
    )
    # The banded self-join consumes the fingerprint table twice; without a
    # persist each side re-runs the token explode + 48-vote aggregation
    # (the expensive part). One fingerprint row per doc — tiny state. The
    # count() materializes the cache EAGERLY: letting the self-join's two
    # branches race to build it concurrently measured ~5x slower than
    # building once and joining cached data. Plan-only consumers suppress
    # the build via registry.lazy_caches() — the persist alone still
    # prevents the double-compute when they do execute.
    sim = tracked_persist(sim)
    if registry_mod.EAGER_CACHES:
        sim.count()
    band_w = N_SIM_BITS // SIM_BANDS
    band_arr = ", ".join(
        f"shiftright(simhash, {b * band_w}) & {(1 << band_w) - 1}"
        for b in range(SIM_BANDS)
    )
    bands = sim.select(
        "doc_id",
        "simhash",
        F.posexplode(F.expr(f"array({band_arr})")).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(hamming <= SIM_HAMMING)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def _emb_cosine_oracle() -> str:
    # Imported lazily to avoid a circular import at module load.
    from hyperloglog_pyspark_spark.operators.similarity import _bucket_expr_sql

    masks = ", ".join(str(m) for m in _EMB_PROBE_MASKS)
    return f"""
    WITH bucketed AS (
        SELECT vec_id, label, embedding,
               {_bucket_expr_sql("embedding")} AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id, label, embedding, xor(bucket, m.m) AS probe
        FROM bucketed CROSS JOIN (SELECT unnest([{masks}]) AS m) m
    )
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           CAST(round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS DOUBLE) AS cos_sim
    FROM probes a
    JOIN bucketed b ON a.label = b.label AND a.probe = b.bucket
                   AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
    """


_EMB_PROBE_MASKS: list[int] = []  # filled below; probes out to hamming ≤ 2


@register(
    "dedup_embedding_cosine",
    category="dedup",
    # Oracle assigned below (needs similarity.py's bucket SQL, lazy import).
    oracle=None,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ 0.4 within
    (label, LSH-bucket) blocks, multi-probed out to hamming ≤ 2 bucket
    flips (exact bucket + 6 one-bit + 15 two-bit = 22 probes/vector,
    see _EMB_PROBE_MASKS below).

    Blocking on label alone is O(n²/L) per block — with a handful of
    labels that is quadratic at scale. The random-hyperplane bucket
    (shared with similarity.py, 2^6 buckets) bounds block size
    independent of label cardinality; probing the hamming ≤ 2
    neighborhood keeps candidate recall high for high-cosine pairs (a
    near-dup pair disagrees on few hyperplanes). Candidates come from an
    equi-join on (label, bucket) — never an unblocked self-join."""
    from hyperloglog_pyspark_spark.functions.vector import as_double, cosine_rounded
    from hyperloglog_pyspark_spark.operators.similarity import _bucket_expr_spark

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double("embedding").alias("e")
    ).withColumn("bucket", _bucket_expr_spark("e"))
    a = emb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.col("e").alias("ea"),
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(m) for m in _EMB_PROBE_MASKS])
        ).alias("probe"),
    )
    b = emb.select(
        F.col("vec_id").alias("vec_b"),
        F.col("label").alias("lb"),
        F.col("e").alias("eb"),
        F.col("bucket").alias("bucket_b"),
    )
    cos = cosine_rounded(F.col("ea"), F.col("eb"), 4)
    return (
        a.join(
            b,
            (F.col("label") == F.col("lb"))
            & (F.col("probe") == F.col("bucket_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b", "label", cos.alias("cos_sim"))
        .distinct()
    )


# similarity.py does not import dedup, so this is cycle-free; sharing its
# hyperplanes means the ANN index and the dedup blocker agree on buckets.
from hyperloglog_pyspark_spark.operators.similarity import N_PLANES as _SIM_N_PLANES  # noqa: E402

# Probe out to hamming ≤ 2 (exact + 6 one-bit + 15 two-bit flips). At a
# production near-dup threshold (cos ≥ 0.9, per-plane disagreement ≈ 0.14)
# this catches ≥ 95% of true pairs; at this fixture's loose τ = 0.4 the
# recall floor is asserted in tests/test_pipeline_ops.py.
_EMB_PROBE_MASKS.extend(
    [0]
    + [1 << p for p in range(_SIM_N_PLANES)]
    + [
        (1 << p) | (1 << q)
        for p in range(_SIM_N_PLANES)
        for q in range(p + 1, _SIM_N_PLANES)
    ]
)
REGISTRY["dedup_embedding_cosine"].oracle = _emb_cosine_oracle()


def _minhash_oracle_cte() -> str:
    """The dedup_minhash_lsh oracle, reusable as a CTE body (it is a full
    SELECT returning doc_a, doc_b, jaccard)."""
    return REGISTRY["dedup_minhash_lsh"].oracle


# --- Connected components: large-star / small-star (Kiveris et al.,
# "Connected Components in MapReduce and Beyond", SoCC'14 — published
# algorithm). Alternating the two operations converges in O(log² n)
# rounds to star graphs rooted at each component's minimum node — vs the
# component DIAMETER rounds that plain min-label propagation needs (a
# 20-iteration cap on label propagation silently mislabels any component
# with diameter > 20; this converges or raises).

CC_MAX_ROUNDS = 25


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach every strictly-larger neighbor to
    min(Γ(u) ∪ {u}). Input (u, v) pairs are treated as undirected."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("mn", "u").alias("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """For each node u: attach its smaller-or-equal neighborhood (and u
    itself) to that neighborhood's minimum."""
    e = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    mins = e.groupBy("u").agg(F.min("v").alias("mn"))
    joined = e.join(mins, "u")
    return (
        joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(mins.select("u", F.col("mn").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_stats(e: DataFrame) -> tuple:
    """Order-independent digest of an edge set (one cheap action over the
    just-checkpointed data): equality ⇒ the iteration reached fixpoint."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return (row.n, row.h)


def connected_components(edges: DataFrame) -> DataFrame:
    """Connected components of an undirected graph given as (u, v) pairs;
    returns (node, component) with component = min node id reachable.

    Scale posture: per round, one localCheckpoint job over the (small,
    LSH-sized) edge set plus one digest action on the checkpointed
    result; lineage depth stays O(1) so round N costs the same as round 1.
    Rounds are O(log² n) in component size — not O(diameter) like plain
    label propagation — and the loop raises rather than returning
    silently-wrong labels if CC_MAX_ROUNDS is ever hit. Results memoize
    per (session, edge plan) in the registry's memo store (family "cc").
    """
    return registry_mod.memoized_frame("cc", (edges,), lambda: _cc_fixpoint(edges))


def _cc_fixpoint(edges: DataFrame) -> DataFrame:
    # Each round references the previous edge set ~10x (unions and
    # self-grouping joins): without truncating lineage per round the plan
    # grows ~10^rounds and Catalyst analysis itself runs out of memory.
    # The round count needs execution, so truncate even in plan-only mode
    # (checkpoint_tracked, not checkpoint_rounds); memoized_frame frees the
    # rounds once the fixpoint's "_memo" copy exists.
    e = registry_mod.checkpoint_tracked(
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    prev = _cc_stats(e)
    converged = prev[0] == 0
    for _ in range(CC_MAX_ROUNDS):
        if converged:
            break
        e = registry_mod.checkpoint_tracked(_cc_small_star(_cc_large_star(e)))
        cur = _cc_stats(e)
        converged = cur == prev
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
        )
    # Fixpoint = stars: (u, root) for every non-root u; roots label themselves.
    return (
        e.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .union(e.select(F.col("v").alias("node"), F.col("v").alias("component")))
        .distinct()
    )


@register(
    "dedup_cluster_components",
    category="dedup",
    # Oracle filled in below after REGISTRY["dedup_minhash_lsh"] exists.
    oracle=None,
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: connected components over the MinHash-LSH
    pair graph, cluster id = min doc_id in the component — the step that
    turns pairwise near-dups into keep-one-per-cluster decisions.

    The pair graph is tiny relative to the corpus (that's LSH's job), and
    components are computed with the large-star/small-star iteration (see
    connected_components) — O(log² n) rounds, one action per round, no
    diameter cap."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    return connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def _cc_oracle_ctes() -> str:
    """edges/reach/comp over an in-scope ``pairs(doc_a, doc_b)`` CTE —
    the ONE copy of the recursive connected-components SQL every
    CC-consuming oracle composes (cluster label = MIN reachable id);
    four oracles build on it: cluster components, text canonical pick,
    soft-dedup weights, media canonical pick. Changing the component
    definition here changes all of them together."""
    return """edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(doc_id, lbl) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.doc_id
    ),
    comp AS (SELECT doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY doc_id)"""


REGISTRY["dedup_cluster_components"].oracle = """
    WITH RECURSIVE pairs AS ({minhash}),
    {cc}
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id FROM comp
""".format(minhash=REGISTRY["dedup_minhash_lsh"].oracle, cc=_cc_oracle_ctes())


@register(
    "dedup_fuzzy_name",
    category="dedup",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a
    JOIN customer b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def dedup_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance: near-identical customer names
    (levenshtein ≤ 1) within a nation block — the record-linkage primitive
    for catalogs where near-dups are typos, not copies.

    Scale: levenshtein is O(len²) per pair, so the block key does ALL the
    work — never run edit distance un-blocked; at 100 TB the blocker is a
    cheap canonical key (soundex/prefix/sorted-token hash) exactly like
    the length buckets in dedup_ngram_jaccard.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    a = cust.select(
        F.col("c_custkey").alias("key_a"), F.col("c_name").alias("name_a"), F.col("c_nationkey").alias("nk")
    )
    b = cust.select(
        F.col("c_custkey").alias("key_b"), F.col("c_name").alias("name_b"), F.col("c_nationkey").alias("nk_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, (F.col("nk") == F.col("nk_b")) & (F.col("key_a") < F.col("key_b")))
        .withColumn("edit_dist", dist)
        .filter(F.col("edit_dist") <= 1)
        .select("key_a", "key_b", F.col("edit_dist").cast("long").alias("edit_dist"))
    )


_INC_SIG_CASE = " ".join(
    f"WHEN s = {i} THEN ({a} * h + {b}) % {_MINHASH_P}"
    for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
)

# New-batch membership: every 5th doc_id plays the incoming batch, the
# rest the already-indexed corpus. Shared between engines as SQL text.
_INC_NEW = "doc_id % 5 = 0"


@register(
    "dedup_incremental_probe",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH docs AS ({_SHINGLED_SQL}),
    hashes AS (
        SELECT doc_id, {_H_SQL} AS h
        FROM (SELECT doc_id, unnest(sh) AS sh_el FROM docs)
    ),
    sig AS (
        SELECT doc_id, s,
               CAST(min(CASE {_INC_SIG_CASE} END) AS VARCHAR) AS sig
        FROM hashes
        CROSS JOIN (SELECT unnest(range(0, {N_SEEDS})) AS s)
        GROUP BY doc_id, s
    ),
    bands AS (
        SELECT doc_id, s // {BAND_R} AS band,
               md5(string_agg(sig, '|' ORDER BY s)) AS band_hash
        FROM sig GROUP BY doc_id, s // {BAND_R}
    ),
    cand AS (
        SELECT DISTINCT b.doc_id AS new_id, h.doc_id AS hist_id
        FROM bands b
        JOIN bands h ON b.band = h.band AND b.band_hash = h.band_hash
        WHERE b.{_INC_NEW} AND NOT h.{_INC_NEW}
    ),
    conf AS (
        SELECT c.new_id
        FROM cand c
        JOIN docs dn ON dn.doc_id = c.new_id
        JOIN docs dh ON dh.doc_id = c.hist_id
        WHERE CAST(len(list_intersect(dn.sh, dh.sh)) AS DOUBLE)
              / (len(dn.sh) + len(dh.sh) - len(list_intersect(dn.sh, dh.sh)))
              >= {JACCARD_T}
    )
    SELECT d.doc_id,
           CAST(COALESCE(cnt.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(cf.n, 0) AS BIGINT) AS n_confirmed,
           COALESCE(cf.n, 0) > 0 AS is_dup
    FROM docs d
    LEFT JOIN (SELECT new_id, COUNT(*) AS n FROM cand GROUP BY new_id) cnt
           ON cnt.new_id = d.doc_id
    LEFT JOIN (SELECT new_id, COUNT(*) AS n FROM conf GROUP BY new_id) cf
           ON cf.new_id = d.doc_id
    WHERE d.{_INC_NEW}
    """,
)
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening: an incoming batch (every 5th
    doc_id) is probed against the historical corpus' MinHash band index —
    the ingestion-time shape of dedup, where each new batch is checked
    against an EXISTING signature table instead of re-running the full
    self-join (``dedup_minhash_lsh``) over corpus + batch. Emits one row
    per new document: band-collision candidate count, exact-Jaccard
    confirmed count, and the keep/drop verdict.

    Scale posture: the signature pass is shared (same md5 + universal-hash
    permutations as the batch LSH, so the persisted corpus index is
    reusable verbatim); the probe is an equi-join on (band, band_hash)
    with the BATCH side broadcast — per-ingest cost is proportional to
    the batch, never the corpus. Exact verification joins shingles only
    for collided pairs.
    """
    return _incremental_probe_frame(_shingled(spark, sf_dir))


def _incremental_probe_frame(shingled: DataFrame) -> DataFrame:
    """Core of ``dedup_incremental_probe`` over an already-shingled
    corpus ``(doc_id, sh)`` — split out so tests can inject a synthetic
    corpus directly. The index is the whole historical corpus (every
    non-batch doc) and the batch is every 5th doc_id: band-collision
    candidates of the batch against the index, exact-Jaccard
    confirmation through the batch docs' broadcast shingles, one
    zero-coalesced row per batch doc."""
    docs = tracked_persist(shingled)
    bands = _band_table(_minhash_sigs(docs))
    is_new = F.expr(_INC_NEW)
    batch_bands = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "band_hash"
    )
    dn = docs.filter(is_new).select(
        F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n")
    )
    batch_ids = docs.filter(is_new).select("doc_id")
    cand = (
        bands.filter(~is_new)
        .join(F.broadcast(batch_bands), ["band", "band_hash"])
        .select("new_id", F.col("doc_id").alias("hist_id"))
        .distinct()
    )
    # Only batch docs ever appear as new_id — broadcast just their
    # shingles (the corpus side streams through the hist_id join).
    dh = docs.select(F.col("doc_id").alias("hist_id"), F.col("sh").alias("sh_h"))
    inter = F.size(F.array_intersect("sh_n", "sh_h"))
    conf = (
        cand.join(F.broadcast(dn), "new_id")
        .join(dh, "hist_id")
        .withColumn(
            "j",
            inter.cast("double")
            / (F.size("sh_n") + F.size("sh_h") - inter),
        )
        .filter(F.col("j") >= JACCARD_T)
        .groupBy("new_id")
        .agg(F.count(F.lit(1)).alias("n_confirmed"))
    )
    cand_counts = cand.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    counts = (
        batch_ids.join(
            F.broadcast(cand_counts),
            batch_ids["doc_id"] == cand_counts["new_id"],
            "left",
        )
        .drop("new_id")
        .join(F.broadcast(conf), batch_ids["doc_id"] == conf["new_id"], "left")
        .drop("new_id")
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.coalesce("n_confirmed", F.lit(0)).alias("n_confirmed"),
        )
    )
    return counts.select(
        "doc_id",
        "n_candidates",
        "n_confirmed",
        (F.col("n_confirmed") > 0).alias("is_dup"),
    )


_EPOCHS = 3  # arrival order: doc_id % 3 = epoch 0 (seed), 1, 2


@register(
    "dedup_incremental_epochs",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH docs AS ({_SHINGLED_SQL}),
    hashes AS (
        SELECT doc_id, {_H_SQL} AS h
        FROM (SELECT doc_id, unnest(sh) AS sh_el FROM docs)
    ),
    sig AS (
        SELECT doc_id, s,
               CAST(min(CASE {_INC_SIG_CASE} END) AS VARCHAR) AS sig
        FROM hashes
        CROSS JOIN (SELECT unnest(range(0, {N_SEEDS})) AS s)
        GROUP BY doc_id, s
    ),
    bands AS (
        SELECT doc_id, s // {BAND_R} AS band,
               md5(string_agg(sig, '|' ORDER BY s)) AS band_hash
        FROM sig GROUP BY doc_id, s // {BAND_R}
    ),
    cand1 AS (
        SELECT DISTINCT b.doc_id AS new_id, h.doc_id AS hist_id
        FROM bands b
        JOIN bands h ON b.band = h.band AND b.band_hash = h.band_hash
        WHERE b.doc_id % {_EPOCHS} = 1 AND h.doc_id % {_EPOCHS} = 0
    ),
    conf1 AS (
        SELECT c.new_id, COUNT(*) AS n
        FROM cand1 c
        JOIN docs dn ON dn.doc_id = c.new_id
        JOIN docs dh ON dh.doc_id = c.hist_id
        WHERE CAST(len(list_intersect(dn.sh, dh.sh)) AS DOUBLE)
              / (len(dn.sh) + len(dh.sh) - len(list_intersect(dn.sh, dh.sh)))
              >= {JACCARD_T}
        GROUP BY c.new_id
    ),
    idx2 AS (
        SELECT doc_id FROM docs WHERE doc_id % {_EPOCHS} = 0
        UNION ALL
        SELECT doc_id FROM docs
        WHERE doc_id % {_EPOCHS} = 1
          AND doc_id NOT IN (SELECT new_id FROM conf1)
    ),
    cand2 AS (
        SELECT DISTINCT b.doc_id AS new_id, h.doc_id AS hist_id
        FROM bands b
        JOIN bands h ON b.band = h.band AND b.band_hash = h.band_hash
        JOIN idx2 i ON i.doc_id = h.doc_id
        WHERE b.doc_id % {_EPOCHS} = 2
    ),
    conf2 AS (
        SELECT c.new_id, COUNT(*) AS n
        FROM cand2 c
        JOIN docs dn ON dn.doc_id = c.new_id
        JOIN docs dh ON dh.doc_id = c.hist_id
        WHERE CAST(len(list_intersect(dn.sh, dh.sh)) AS DOUBLE)
              / (len(dn.sh) + len(dh.sh) - len(list_intersect(dn.sh, dh.sh)))
              >= {JACCARD_T}
        GROUP BY c.new_id
    )
    SELECT d.doc_id, CAST(1 AS BIGINT) AS epoch,
           CAST(COALESCE(cc.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(cf.n, 0) AS BIGINT) AS n_confirmed,
           COALESCE(cf.n, 0) = 0 AS admitted
    FROM docs d
    LEFT JOIN (SELECT new_id, COUNT(*) AS n FROM cand1 GROUP BY new_id) cc
           ON cc.new_id = d.doc_id
    LEFT JOIN conf1 cf ON cf.new_id = d.doc_id
    WHERE d.doc_id % {_EPOCHS} = 1
    UNION ALL
    SELECT d.doc_id, CAST(2 AS BIGINT) AS epoch,
           CAST(COALESCE(cc.n, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(cf.n, 0) AS BIGINT) AS n_confirmed,
           COALESCE(cf.n, 0) = 0 AS admitted
    FROM docs d
    LEFT JOIN (SELECT new_id, COUNT(*) AS n FROM cand2 GROUP BY new_id) cc
           ON cc.new_id = d.doc_id
    LEFT JOIN conf2 cf ON cf.new_id = d.doc_id
    WHERE d.doc_id % {_EPOCHS} = 2
    """,
)
def dedup_incremental_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch ingest-time dedup — the batch-checkable form of the
    streaming foreachBatch pipeline (`tests/test_streaming.py`'s
    incremental-dedup twin): docs arrive in 3 epochs (epoch = doc_id %
    3), epoch 0 seeds the index, and each later epoch is probed
    against only the docs ADMITTED so far — a rejected duplicate never
    enters the index, so epoch 2's verdicts depend on epoch 1's (the
    property a one-shot probe like ``dedup_incremental_probe`` cannot
    express). Emits the per-doc admission manifest: band-collision
    candidates, exact-Jaccard confirmations, keep/drop.

    Scale posture: the signature/band table is computed once and
    persisted (the production index table); each epoch's probe is an
    equi-join on (band, band_hash) with the BATCH side broadcast —
    per-epoch cost proportional to the batch, never the corpus; the
    index grows by appending the admitted batch's bands (in production,
    an append to the persisted index table, no recompute).
    """
    return _incremental_epochs_frame(_shingled(spark, sf_dir))


def _incremental_epochs_frame(shingled: DataFrame) -> DataFrame:
    """Core of ``dedup_incremental_epochs`` over an already-shingled
    corpus ``(doc_id, sh)`` — split out so tests can inject a synthetic
    corpus directly.

    The two per-epoch probes are ONE multi-epoch pair join. Every pair
    either probe examines is a band collision with new_epoch >
    hist_epoch — (1,0), (2,0), (2,1) — so one band join + one
    exact-Jaccard confirm pass computes the superset once, PERSISTED at
    pair grain (plan-canonical: built from the persisted docs/bands
    frames and literals only, so warm reps cache-hit it). Epoch verdicts
    are then cheap aggregations: epoch 1 reads its (1,0) slice; epoch 2
    reads (2,·) minus pairs whose epoch-1 hist was rejected — dropping
    AFTER the shared confirm instead of pruning the index BEFORE the
    probe touches only pairs against rejected docs (confirmed
    duplicates, few by construction), and produces the candidate/confirm
    sets that sequential per-epoch probes against the admitted index
    would. Plan effect: 2 probe joins + 2 corpus-side confirm joins →
    1 + 1."""
    docs = tracked_persist(shingled)
    bands = tracked_persist(_band_table(_minhash_sigs(docs)))
    ep = F.col("doc_id") % _EPOCHS
    b = bands.filter(ep > 0).select(
        F.col("doc_id").alias("new_id"), "band", "band_hash"
    )
    h = bands.filter(ep < 2).select(
        F.col("doc_id").alias("hist_id"), "band", "band_hash"
    )
    cand = (
        h.join(F.broadcast(b), ["band", "band_hash"])
        .filter(F.col("hist_id") % _EPOCHS < F.col("new_id") % _EPOCHS)
        .select("new_id", "hist_id")
        .distinct()
    )
    dn = docs.filter(ep > 0).select(
        F.col("doc_id").alias("new_id"), F.col("sh").alias("sh_n")
    )
    dh = docs.select(
        F.col("doc_id").alias("hist_id"), F.col("sh").alias("sh_h")
    )
    inter = F.size(F.array_intersect("sh_n", "sh_h"))
    pairs = tracked_persist(
        cand.join(F.broadcast(dn), "new_id")
        .join(dh, "hist_id")
        .select(
            "new_id",
            "hist_id",
            (
                inter.cast("double")
                / (F.size("sh_n") + F.size("sh_h") - inter)
                >= JACCARD_T
            ).alias("conf"),
        )
    )

    def verdicts(e: int, epairs: DataFrame) -> DataFrame:
        cand_counts = epairs.groupBy("new_id").agg(
            F.count(F.lit(1)).alias("n_candidates")
        )
        conf_counts = (
            epairs.filter("conf")
            .groupBy("new_id")
            .agg(F.count(F.lit(1)).alias("n_confirmed"))
        )
        ids = docs.filter(ep == e).select("doc_id")
        return (
            ids.join(
                F.broadcast(cand_counts),
                ids["doc_id"] == cand_counts["new_id"],
                "left",
            )
            .drop("new_id")
            .join(
                F.broadcast(conf_counts),
                ids["doc_id"] == conf_counts["new_id"],
                "left",
            )
            .drop("new_id")
            .select(
                "doc_id",
                F.lit(e).cast("bigint").alias("epoch"),
                F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
                F.coalesce("n_confirmed", F.lit(0)).alias("n_confirmed"),
                (F.coalesce("n_confirmed", F.lit(0)) == 0).alias("admitted"),
            )
        )

    p1 = pairs.filter(F.col("new_id") % _EPOCHS == 1)
    rejected1 = (
        p1.filter("conf").select(F.col("new_id").alias("rej_id")).distinct()
    )
    p2 = pairs.filter(F.col("new_id") % _EPOCHS == 2).join(
        F.broadcast(rejected1),
        F.col("hist_id") == F.col("rej_id"),
        "left_anti",
    )
    return verdicts(1, p1).unionByName(verdicts(2, p2))


@register(
    "dedup_prefix_filter",
    category="dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {shingles_sql(3)} AS tk
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    nn AS (SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
    posting AS (SELECT doc_id, unnest(tk) AS tok FROM nn),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM posting GROUP BY tok),
    ranked AS (
        SELECT p.doc_id, p.tok,
               ROW_NUMBER() OVER (PARTITION BY p.doc_id
                                  ORDER BY d.df ASC, p.tok ASC) AS rn
        FROM posting p JOIN dfreq d USING (tok)
    ),
    pref AS (
        SELECT r.doc_id, r.tok
        FROM ranked r JOIN nn USING (doc_id)
        WHERE r.rn <= nn.n - (4 * nn.n + 4) // 5 + 1
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
           ROUND(CAST(len(list_intersect(na.tk, nb.tk)) AS DOUBLE)
                 / (na.n + nb.n - len(list_intersect(na.tk, nb.tk))), 6) AS jaccard
    FROM cand
    JOIN nn na ON na.doc_id = cand.doc_a
    JOIN nn nb ON nb.doc_id = cand.doc_b
    WHERE CAST(len(list_intersect(na.tk, nb.tk)) AS DOUBLE)
          / (na.n + nb.n - len(list_intersect(na.tk, nb.tk))) >= {JACCARD_T}
    """,
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity self-join (the PPJoin/AllPairs
    construction) over word 3-gram shingle sets: under a GLOBAL element
    order (rarest-first by document frequency, ties lexicographic), two
    sets with Jaccard ≥ t MUST share an element within each other's
    first n − ⌈t·n⌉ + 1 elements — so only those short prefixes enter
    the candidate join, and the rare-first ordering keeps the posting
    lists that do join tiny. The third candidate-generation strategy
    beside MinHash banding (probabilistic) and length blocking (coarse):
    exact, no false negatives, no signatures to store.

    Scale: candidate work is bounded by prefix posting-list sizes —
    rarest-first ordering makes hot elements (huge lists) fall OUTSIDE
    prefixes, the trick that keeps the self-join from going quadratic on
    boilerplate. Shingles (not unigram tokens) are the similarity unit:
    order-sensitive 3-grams keep template-vocabulary documents from
    collapsing into one giant all-pairs clique, exactly as in the
    MinHash path (same ``_shingled`` table, so the two strategies'
    verified pair sets are directly comparable). Verification joins full
    shingle arrays for surviving candidates only; the prefix length is
    pure integer ceil-division.
    """
    toks = (
        _shingled(spark, sf_dir)
        .select("doc_id", F.col("sh").alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") > 0)
    )
    toks = tracked_persist(toks)
    posting = toks.select("doc_id", "n", F.explode("tk").alias("tok"))
    dfreq = posting.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    pref = (
        posting.join(dfreq, "tok")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1)
        .select("doc_id", "tok")
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "tok")
    b = pref.select(F.col("doc_id").alias("doc_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    na = toks.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"), F.col("n").alias("n_a"))
    nb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"), F.col("n").alias("n_b"))
    inter = F.size(F.array_intersect("tk_a", "tk_b"))
    jac = inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(na, "doc_a")
        .join(nb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Cross-document exact-substring spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): find the maximal token
# spans shared VERBATIM between document pairs. Distinct from the
# gram-COUNT ops above (minhash/jaccard/containment measure set overlap;
# this one recovers contiguous span structure — the thing the suffix-array
# dedup in the paper removes).
# ---------------------------------------------------------------------------

XSUB_N = 8  # gram width in tokens; detects any shared run >= XSUB_N tokens
XSUB_MIN_SPAN = 16  # report pairs whose longest verbatim run >= this
# Whale guard: the cap is DERIVED from the corpus's own gram-df
# distribution — cap = max(FLOOR, HEADROOM × p99.9(df)) — so it tracks
# corpus skew instead of hard-coding one corpus's boilerplate threshold
# (round-11 verdict #8). p99.9 is an exact integer order statistic
# (counting construction, threshold ceil(999·N/1000) in pure integer
# arithmetic), so both engines derive the identical cap. On corpora
# under ~1000 distinct grams p99.9 degenerates to max(df), making the
# guard a no-op there (the fuzz corpora) by construction.
XSUB_DF_FLOOR = 8  # never cap below this (tiny-corpus safety)
XSUB_DF_HEADROOM = 16  # cap = HEADROOM × p99.9 of the gram-df distribution


def _derived_df_whales(dfs: DataFrame) -> DataFrame:
    """Whale grams under the derived df-cap: given a ``(gram, df)``
    frame, return the grams whose document frequency exceeds
    max(XSUB_DF_FLOOR, XSUB_DF_HEADROOM × p99.9(df)).

    The p99.9 is an exact integer order statistic computed over the
    df HISTOGRAM (#distinct df values — a handful of rows), in pure
    integer arithmetic so both engines derive the identical threshold
    at every corpus size (dedup_exact_substring's oracle mirrors the
    derivation)."""
    dfs = tracked_persist(dfs)
    hist = dfs.groupBy("df").agg(F.count(F.lit(1)).alias("c"))
    cum = hist.select(
        "df",
        F.sum("c").over(
            Window.orderBy("df").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ).alias("cum"),
    )
    thr = hist.agg(F.expr("(999 * sum(c) + 999) div 1000").alias("t"))
    cap = (
        cum.crossJoin(F.broadcast(thr))
        .filter(F.col("cum") >= F.col("t"))
        .agg(F.min("df").alias("p999"))
        .select(
            F.greatest(
                F.lit(XSUB_DF_FLOOR), F.lit(XSUB_DF_HEADROOM) * F.col("p999")
            ).alias("cap")
        )
    )
    return (
        dfs.crossJoin(F.broadcast(cap))
        .filter(F.col("df") > F.col("cap"))
        .select("gram")
    )


@register(
    "dedup_exact_substring",
    category="dedup",
    bench=True,
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= {XSUB_N}
    ),
    grams AS (
        SELECT doc_id, i AS pos, array_to_string(t[i:i+{XSUB_N - 1}], ' ') AS gram
        FROM toks, UNNEST(range(1, len(t) - {XSUB_N - 2})) AS u(i)
    ),
    dfs AS (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY gram
    ),
    hist AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS c FROM dfs GROUP BY df),
    thr AS (SELECT (999 * CAST(SUM(c) AS BIGINT) + 999) // 1000 AS t FROM hist),
    cap AS (
        SELECT GREATEST({XSUB_DF_FLOOR}, {XSUB_DF_HEADROOM} * MIN(df)) AS cap
        FROM (SELECT df, SUM(c) OVER (ORDER BY df
                                      ROWS UNBOUNDED PRECEDING) AS cum
              FROM hist) CROSS JOIN thr
        WHERE cum >= t
    ),
    keep AS (SELECT gram FROM dfs CROSS JOIN cap WHERE df <= cap),
    capped AS (SELECT g.* FROM grams g JOIN keep USING (gram)),
    pairs AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, a.pos - b.pos AS diag
        FROM capped a JOIN capped b USING (gram)
        WHERE a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT da, db, diag, pa,
               pa - ROW_NUMBER() OVER (PARTITION BY da, db, diag ORDER BY pa) AS grp
        FROM pairs
    ),
    spans AS (
        SELECT da, db, COUNT(*) + {XSUB_N - 1} AS span_tokens
        FROM runs GROUP BY da, db, diag, grp
    )
    SELECT da AS doc_a, db AS doc_b,
           CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(span_tokens) AS BIGINT) AS shared_token_mass
    FROM spans GROUP BY da, db
    HAVING MAX(span_tokens) >= {XSUB_MIN_SPAN}
    """,
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring detection: for every document pair
    sharing a verbatim token run of >= XSUB_MIN_SPAN tokens, emit the
    longest shared span, the number of distinct shared runs, and the
    total shared token mass (sum of run lengths over match diagonals).

    Construction (the relational equivalent of the paper's suffix-array
    scan): positional word {XSUB_N}-grams — ALL positions, not the
    distinct shingle sets the Jaccard ops use — are equi-joined across
    documents on the gram string; matched positions falling on one
    (pair, pa - pb) diagonal with consecutive pa form a run of r grams
    = a verbatim span of r + {XSUB_N}-1 tokens, recovered with the
    classic gaps-and-islands grouping (pa - row_number), then reduced
    to per-pair maxima.

    Scale: the gram explosion is one streamed pass (~L rows per doc —
    the same work a suffix array ingests); the only quadratic surface is
    the gram equi-join, which costs sum_g df(g)^2 and is capped by the
    whale guard: grams in more docs than max(XSUB_DF_FLOOR,
    XSUB_DF_HEADROOM × p99.9(df)) are dropped BEFORE the self-join —
    boilerplate is text_boilerplate_lines' job. The cap is DERIVED from
    the gram-df distribution the guard already aggregates (an exact
    integer order statistic over the df histogram — a #distinct-df-row
    frame — so the knob tracks corpus skew at zero extra corpus
    passes; both engines derive the identical value). A span survives
    the cap unless EVERY one of its grams is corpus-ubiquitous, i.e.
    the span itself is boilerplate. The run-merge window partitions by
    (pair, diagonal) — cardinality is bounded by matched pairs, not the
    corpus — and the gram join key (dedup_skew_probe.py measures the
    guard against a boilerplate whale) would shuffle as a 64-bit hash
    at 100 TB (string kept here only for
    oracle parity; see dedup_minhash_lsh's md5 anchor note).
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    t = F.split("text", " ")
    g = tracked_persist(
        docs.filter(F.size(t) >= XSUB_N)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(t) - F.lit(XSUB_N - 1)),
                    lambda i: F.concat_ws(" ", F.slice(t, i, XSUB_N)),
                )
            ).alias("pos", "gram"),
        )
    )
    dfs = g.groupBy("gram").agg(F.count_distinct("doc_id").alias("df"))
    whales = _derived_df_whales(dfs)
    capped = g.join(F.broadcast(whales), "gram", "left_anti")
    a = capped.select(F.col("doc_id").alias("da"), F.col("pos").alias("pa"), "gram")
    b = capped.select(F.col("doc_id").alias("db"), F.col("pos").alias("pb"), "gram")
    pairs = (
        a.join(b, "gram")
        .filter(F.col("da") < F.col("db"))
        .select("da", "db", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("da", "db", "diag").orderBy("pa")
    spans = (
        pairs.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("da", "db", "diag", "grp")
        .agg((F.count(F.lit(1)) + F.lit(XSUB_N - 1)).alias("span_tokens"))
    )
    return (
        spans.groupBy("da", "db")
        .agg(
            F.max("span_tokens").cast("long").alias("max_span_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum("span_tokens").cast("long").alias("shared_token_mass"),
        )
        .filter(F.col("max_span_tokens") >= XSUB_MIN_SPAN)
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            "max_span_tokens",
            "n_spans",
            "shared_token_mass",
        )
    )


ER_MAX_LEV = 1  # blocked pairs at most this edit distance apart are matches


@register(
    "entity_resolution_blocked",
    category="dedup",
    oracle=f"""
    WITH RECURSIVE
    ent AS (
        SELECT c_custkey AS id, c_name AS name,
               CAST(c_nationkey AS INTEGER) AS nat,
               substr(c_name, 1, length(c_name) - 2) AS blk
        FROM customer
    ),
    pairs AS (
        SELECT a.nat, a.id AS u, b.id AS v,
               levenshtein(a.name, b.name) AS lev
        FROM ent a
        JOIN ent b ON a.nat = b.nat AND a.blk = b.blk AND a.id < b.id
    ),
    edges AS (SELECT u, v FROM pairs WHERE lev <= {ER_MAX_LEV}),
    sym AS (SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges),
    reach(node, lbl) AS (
        SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)
        UNION
        SELECT s.u AS node, r.lbl FROM sym s JOIN reach r ON s.v = r.node
    ),
    comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
    csize AS (
        SELECT e.nat, c.component, COUNT(*) AS sz
        FROM comp c JOIN ent e ON c.node = e.id
        GROUP BY e.nat, c.component
    ),
    pagg AS (
        SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN lev <= {ER_MAX_LEV} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_matches
        FROM pairs GROUP BY nat
    ),
    cagg AS (
        SELECT nat, CAST(COUNT(*) AS BIGINT) AS n_clusters,
               CAST(MAX(sz) AS BIGINT) AS largest_cluster,
               CAST(SUM(sz) AS BIGINT) AS n_merged_rows
        FROM csize GROUP BY nat
    )
    SELECT e.nat AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_entities,
           CAST(COUNT(DISTINCT e.blk) AS BIGINT) AS n_blocks,
           COALESCE(MAX(pagg.n_pairs), 0) AS n_pairs,
           COALESCE(MAX(pagg.n_matches), 0) AS n_matches,
           COALESCE(MAX(cagg.n_clusters), 0) AS n_clusters,
           COALESCE(MAX(cagg.largest_cluster), 0) AS largest_cluster,
           COALESCE(MAX(cagg.n_merged_rows), 0) AS n_merged_rows
    FROM ent e
    LEFT JOIN pagg ON pagg.nat = e.nat
    LEFT JOIN cagg ON cagg.nat = e.nat
    GROUP BY e.nat
    """,
)
def entity_resolution_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage / entity resolution over a STRUCTURED table — the
    classic blocking → pairwise-scoring → transitive-closure pipeline
    the document dedup family (MinHash/SimHash) runs on text, here run
    on entity names: candidates are blocked on (nation, name-prefix) so
    only same-block pairs are ever scored, scored with true Levenshtein
    edit distance (JVM built-in on both engines — a deterministic
    metric, so the oracle hash-checks every count), matched at lev <=
    ER_MAX_LEV, and merged into entities with the same large-star /
    small-star connected-components fixpoint the near-dup clusters use
    (connected_components above — O(log² n) rounds, never O(diameter)).
    Per nation: entity/block/pair/match counts and the resulting
    cluster census (clusters, largest, rows merged).

    The oracle computes the SAME closure via a recursive min-label CTE
    — tractable for DuckDB because matches are block-bounded; the Spark
    side never materializes reachability sets, only star edges.

    Scale: the block self-join is the only candidate generator —
    Σ(block²) bounded by construction (a block is one name-prefix
    within one nation, ≤100 ids), the exact pigeonhole discipline of
    dedup_minhash_lsh's band buckets. CC runs on the MATCH edges (a few
    hundred per million rows at this threshold), not the corpus. At
    100 TB: blocks shard perfectly; no all-pairs anything — UNLESS the
    name data itself defeats the blocking key: a placeholder name
    ("UNKNOWN", "FNU", a call-center default) floods one block and its
    |b|²/2 pairwise explodes (measured in dedup_skew_probe.py's entity
    leg; the standard record-linkage answer is frequency-filtered stop
    blocks, Christen 2012 §4.5).
    """
    cust = load_table(spark, sf_dir, "customer")
    ent = tracked_persist(
        cust.select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("name"),
            F.col("c_nationkey").cast("int").alias("nat"),
            F.expr("substr(c_name, 1, length(c_name) - 2)").alias("blk"),
        )
    )
    a = ent.select(
        "nat", "blk", F.col("id").alias("u"), F.col("name").alias("name_u")
    )
    b = ent.select(
        "nat", "blk", F.col("id").alias("v"), F.col("name").alias("name_v")
    )
    pairs = tracked_persist(
        a.join(b, ["nat", "blk"])
        .filter(F.col("u") < F.col("v"))
        .select(
            "nat", "u", "v",
            F.levenshtein("name_u", "name_v").alias("lev"),
        )
    )
    edges = pairs.filter(F.col("lev") <= ER_MAX_LEV).select("u", "v")
    comp = connected_components(edges)
    csize = (
        comp.join(
            ent.select(F.col("id").alias("node"), "nat"), "node"
        )
        .groupBy("nat", "component")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    pagg = pairs.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("lev") <= ER_MAX_LEV, 1).otherwise(0))
        .cast("long").alias("n_matches"),
    )
    cagg = csize.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.max("sz").cast("long").alias("largest_cluster"),
        F.sum("sz").cast("long").alias("n_merged_rows"),
    )
    base = ent.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_entities"),
        F.count_distinct("blk").cast("long").alias("n_blocks"),
    )
    return (
        base.join(F.broadcast(pagg), "nat", "left")
        .join(F.broadcast(cagg), "nat", "left")
        .select(
            F.col("nat").alias("nationkey"),
            "n_entities",
            "n_blocks",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_matches", F.lit(0)).alias("n_matches"),
            F.coalesce("n_clusters", F.lit(0)).alias("n_clusters"),
            F.coalesce("largest_cluster", F.lit(0)).alias("largest_cluster"),
            F.coalesce("n_merged_rows", F.lit(0)).alias("n_merged_rows"),
        )
    )


WJ_T = 0.5  # weighted (multiset) Jaccard report threshold


@register(
    "dedup_weighted_jaccard",
    category="dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' ')
               ) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    tf AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(sh) AS g FROM raw)
        GROUP BY doc_id, g
    ),
    tot AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS toks,
               CAST(FLOOR((len(sh) + 2) / {LEN_BUCKET}.0) AS BIGINT) AS lb
        FROM raw
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS sum_min
        FROM tf a JOIN tf b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, ta.toks AS toks_a, tb.toks AS toks_b,
           p.sum_min,
           CAST(round(p.sum_min * 1.0
                      / (ta.toks + tb.toks - p.sum_min), 6) AS DOUBLE)
               AS w_jaccard
    FROM pairs p
    JOIN tot ta ON ta.doc_id = p.doc_a
    JOIN tot tb ON tb.doc_id = p.doc_b
    WHERE tb.lb BETWEEN ta.lb - 1 AND ta.lb + 1
      AND p.sum_min * 1.0 / (ta.toks + tb.toks - p.sum_min) >= {WJ_T}
    """,
)
def dedup_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset / bag) Jaccard near-dup detection — the
    frequency-aware sibling of dedup_ngram_jaccard: J_w(A,B) =
    Σ_g min(tf_A, tf_B) / Σ_g max(tf_A, tf_B) over word-3-gram BAGS
    (repeated shingles keep their multiplicity instead of collapsing
    under array_distinct). Set-Jaccard saturates on documents that
    repeat boilerplate — ten copies of a navigation block count once —
    while the bag form weighs the repetition, separating "shares the
    template" from "IS mostly the template" (the text_repeated_spans
    signal folded into a pairwise similarity). Σ max needs no second
    join: Σ max = |A| + |B| − Σ min on bag sizes, so one inverted-index
    pass computes everything.

    Same candidate discipline as the set form: explode to (doc, gram,
    tf) postings, equi-join on the gram — only pairs actually sharing a
    gram materialize, work is Σ_g df(g)², and the length-bucket ±1
    predicate is kept as a join filter for oracle parity. The oracle
    uses the SAME inverted join (not a pair CTE), so it verifies
    directly at sf0.1 — no banding.

    Exactness: sum_min/toks are exact BIGINTs; the one double division
    is identical bit-for-bit cross-engine (operands < 2^53).

    A boilerplate whale gram's df² pairs all land in this join; the
    EXACT, whale-immune scale path for this threshold is
    dedup_weighted_prefix_filter.
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    t = F.split("text", " ")
    raw_sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(2)),
        lambda i: F.concat_ws(" ", F.slice(t, i, 3)),
    )
    sh = docs.filter(F.size(t) >= 3).select(
        "doc_id",
        raw_sh.alias("sh"),
        F.floor(F.size(t) / LEN_BUCKET).alias("lb"),
    )
    tf = tracked_persist(
        sh.select(
            "doc_id", "lb",
            F.size("sh").cast("long").alias("toks"),
            F.explode("sh").alias("g"),
        )
        .groupBy("doc_id", "lb", "toks", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    a = tf.select(
        F.col("doc_id").alias("doc_a"), F.col("lb").alias("lb_a"),
        F.col("toks").alias("toks_a"), "g", F.col("tf").alias("tf_a"),
    )
    b = tf.select(
        F.col("doc_id").alias("doc_b"), F.col("lb").alias("lb_b"),
        F.col("toks").alias("toks_b"), "g", F.col("tf").alias("tf_b"),
    )
    wj_raw = F.col("sum_min").cast("double") / (
        F.col("toks_a") + F.col("toks_b") - F.col("sum_min")
    )
    return (
        a.join(
            b,
            (a["g"] == b["g"])
            & (F.col("doc_a") < F.col("doc_b"))
            & F.col("lb_b").between(F.col("lb_a") - 1, F.col("lb_a") + 1),
        )
        .groupBy("doc_a", "doc_b", "toks_a", "toks_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).cast("long").alias("sum_min"))
        .filter(wj_raw >= WJ_T)
        .select(
            "doc_a", "doc_b", "toks_a", "toks_b", "sum_min",
            F.round(wj_raw, 6).cast("double").alias("w_jaccard"),
        )
    )


WPF_T_NUM = 1  # weighted-prefix-filter threshold t = NUM/DEN = 0.5
WPF_T_DEN = 2


@register(
    "dedup_weighted_prefix_filter",
    category="dedup",
    oracle=f"""
    WITH raw AS (
        SELECT doc_id,
               list_transform(
                   range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                   i -> array_to_string(
                       list_slice(string_split(text, ' '), i, i + 2), ' ')
               ) AS sh
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    tf AS (
        SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest(sh) AS g FROM raw)
        GROUP BY doc_id, g
    ),
    tot AS (
        SELECT doc_id, CAST(len(sh) AS BIGINT) AS toks FROM raw
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS sum_min
        FROM tf a JOIN tf b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT p.doc_a, p.doc_b, ta.toks AS toks_a, tb.toks AS toks_b,
           p.sum_min,
           CAST(round(p.sum_min * 1.0
                      / (ta.toks + tb.toks - p.sum_min), 6) AS DOUBLE)
               AS w_jaccard
    FROM pairs p
    JOIN tot ta ON ta.doc_id = p.doc_a
    JOIN tot tb ON tb.doc_id = p.doc_b
    WHERE p.sum_min * {WPF_T_DEN}
          >= {WPF_T_NUM} * (ta.toks + tb.toks - p.sum_min)
    """,
)
def dedup_weighted_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (bag) Jaccard self-join with an EXACT prefix filter —
    the no-false-negative scale path for the weighted family, playing
    the role dedup_prefix_filter (PPJoin) plays for set Jaccard.

    The TRUE answer set at t = {WPF_T_NUM}/{WPF_T_DEN}: every pair with
    J_w = Σmin/Σmax ≥ t over word-3-gram BAGS — no MinHash
    probabilities, no length-bucket banding (dedup_weighted_jaccard's
    lb±1 predicate can exclude true pairs whose masses straddle two
    buckets; this operator has no such blind spot and the fixture test
    pins a pair only it finds).

    Candidate generation is the mass-weighted AllPairs/PPJoin prefix
    argument: under a GLOBAL gram order (document-frequency ascending,
    ties lexicographic), sort each doc's (gram, tf) entries and keep
    the minimal PREFIX whose remaining suffix mass is < t·|A|. If two
    bags with J_w ≥ t shared no common gram in both prefixes, take the
    first common gram g₁ in global order: every common gram sits at or
    after g₁, so the overlap Σmin would fit inside a suffix of mass
    < t·|A| — contradicting Σmin ≥ t·max(|A|,|B|) (which follows from
    J_w ≥ t and Σmin ≤ min(|A|,|B|)). Hence the prefix-prefix equi-join
    finds every qualifying pair, and the rarest-first order pushes
    boilerplate whale grams (huge posting lists) OUT of prefixes — the
    candidate join's cost is Σ_g df_prefix(g)², bounded by rare grams.
    The same Σmin ≥ t·max bound gives the mass-ratio pruning predicate
    {WPF_T_DEN}·min(|A|,|B|) ≥ {WPF_T_NUM}·max(|A|,|B|) applied inside
    the candidate join. Verification then joins the FULL postings of
    surviving pairs only.

    Everything on the decision path is exact integer arithmetic (prefix
    boundary: suffix_mass·{WPF_T_DEN} ≥ toks·{WPF_T_NUM}; admission:
    Σmin·{WPF_T_DEN} ≥ {WPF_T_NUM}·(toks_a+toks_b−Σmin)); the oracle
    computes the same answer by the naive inverted join, so equality IS
    the no-false-negative proof at every SF. One double division at the
    emit edge, operands < 2^53.

    Scale posture measured in dedup_skew_probe.py (weighted_jaccard
    legs, SCALE.md round-15 table): under a 3 % boilerplate whale this
    plan's skew penalty is 1.11 (flat — whale grams have corpus-scale
    df, sort LAST, never enter a prefix) vs the inverted join's
    1.34-and-growing-quadratically. The honest trade: at
    t = 0.5 prefixes hold ≥ half of every doc's mass, so the uniform-
    corpus wall runs ~4.5× the inverted join's — prefix-filter
    selectivity grows with t, making this the right plan for
    high-threshold near-dup sweeps (t ≥ 0.8: short prefixes, exact,
    whale-immune) and the inverted-join/MinHash routes the right ones at
    broad-similarity thresholds. The threshold is the exact rational
    WPF_T_NUM/WPF_T_DEN, read when the plan is built: raising t keeps
    only entries whose suffix mass ≥ t·|doc| in each prefix, so
    prefixes SHRINK and the candidate join gets cheaper exactly when
    the sweep gets stricter. The completeness argument is
    threshold-generic; tests/test_fuzz_round15.py re-proves the
    naive-join equality at t = 4/5.
    """
    docs = load_table(spark, sf_dir, "documents", spread_scan=True)
    t = F.split("text", " ")
    raw_sh = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(2)),
        lambda i: F.concat_ws(" ", F.slice(t, i, 3)),
    )
    sh = docs.filter(F.size(t) >= 3).select(
        "doc_id", raw_sh.alias("sh")
    )
    tf = tracked_persist(
        sh.select(
            "doc_id",
            F.size("sh").cast("long").alias("toks"),
            F.explode("sh").alias("g"),
        )
        .groupBy("doc_id", "toks", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dfs = tf.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("g"))
    ranked = tf.join(dfs, "g").select(
        "doc_id", "toks", "g", "tf",
        (
            F.col("toks")
            - F.sum("tf").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            + F.col("tf")
        ).alias("suffix_mass"),
    )
    prefix = ranked.filter(
        F.col("suffix_mass") * WPF_T_DEN >= F.col("toks") * WPF_T_NUM
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"), "g"
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"), "g"
    )
    cand = (
        pa.join(
            pb,
            (pa["g"] == pb["g"])
            & (F.col("doc_a") < F.col("doc_b"))
            & (
                F.least("toks_a", "toks_b") * WPF_T_DEN
                >= F.greatest("toks_a", "toks_b") * WPF_T_NUM
            ),
        )
        .select("doc_a", "doc_b", "toks_a", "toks_b")
        .distinct()
    )
    ta = tf.select(
        F.col("doc_id").alias("doc_a"), "g", F.col("tf").alias("tf_a")
    )
    tb = tf.select(
        F.col("doc_id").alias("doc_b"), "g", F.col("tf").alias("tf_b")
    )
    sum_min = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b", "toks_a", "toks_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).cast("long").alias("sum_min"))
    )
    wj_raw = F.col("sum_min").cast("double") / (
        F.col("toks_a") + F.col("toks_b") - F.col("sum_min")
    )
    return (
        sum_min.filter(
            F.col("sum_min") * WPF_T_DEN
            >= WPF_T_NUM
            * (F.col("toks_a") + F.col("toks_b") - F.col("sum_min"))
        )
        .select(
            "doc_a", "doc_b", "toks_a", "toks_b", "sum_min",
            F.round(wj_raw, 6).cast("double").alias("w_jaccard"),
        )
    )
