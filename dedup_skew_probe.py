#!/usr/bin/env python
"""Skewed-band probe for the dedup family (round-6 verdict #6).

`skew_probe.py` measures sessionize/join/agg skew; this probe measures
the flagship dedup family's own skew shape: a near-identical boilerplate
corpus where ONE (band, band_hash) bucket owns a few percent of all
signatures (the crawl's cookie-policy page, a license header, a
syndicated article). That bucket is a fundamentally different hazard
from join skew:

- `_lsh_candidates` generates pairs by BUCKET AGGREGATION (collect_list
  per bucket, explode pairs) — there is no join for AQE's
  OptimizeSkewedJoin to split, so the whale bucket is a single task
  emitting |bucket|²/2 pairs. AQE is NOT the answer here.
- The pair count itself is quadratic in the bucket size — at 100 TB a
  1% boilerplate share is billions of identical documents and the
  pairwise output alone is astronomically large. No execution strategy
  fixes that; the CANDIDATE GENERATION must change.

Every leg runs a registered form, the code the driver and the bench
run. A leg whose xRs wall sits near its xRu wall is whale-immune; one
that degrades quadratically with the whale share is not.

Corpora (documents table, sf0.1 base = 5k docs):

  x1  — base corpus, every word salted with a replica suffix (same
        per-doc compute shape as the replicas),
  xRu — R uniform replicas; each replica's words get a distinct salt,
        so cross-replica docs share no shingles (no accidental pairs),
  xRs — xRu, then ~HOT_PCT% of docs' text replaced by ONE shared
        boilerplate string (unsalted → identical across replicas).

Measured per corpus: `dedup_minhash_lsh`, `dedup_incremental_probe`
(its batch probes the persisted band index, so the whale bucket hits
the probe join too), the perceptual band self-join, and the
exact-substring, weighted-Jaccard, weighted-prefix-filter and
entity-resolution queries. Ratios as in skew_probe.py:
skew_penalty = (sec_Rs/sec_1x) / (sec_Ru/sec_1x). Results recorded in
SCALE.md §"Measured skewed band".

Run: ``python dedup_skew_probe.py [R] [op-substring]`` (default R=10).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from hyperloglog_pyspark_spark import registry
from hyperloglog_pyspark_spark.session import get_spark
from hyperloglog_pyspark_spark.sources.catalog import load_table

BASE_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WORK_DIR = "/tmp/spark_graft_dedup_skew"
HOT_PCT = 3  # pmod(xxhash64(doc_id), 100) < 3 → ~3% boilerplate docs
BOILER = (
    "this website uses cookies to ensure you get the best experience "
    "on our website by continuing to browse the site you are agreeing "
    "to our use of cookies and our privacy policy which describes how "
    "we collect store and process your personal information please "
    "review the policy carefully before you continue to use this site"
)


def _salted(col, k: int):
    """Append a per-replica suffix to EVERY word: cross-replica copies
    share zero 3-gram shingles, so replication adds volume, not pairs."""
    return F.array_join(
        F.transform(F.split(col, " "), lambda w: F.concat(w, F.lit(f"x{k}"))),
        " ",
    )


def build_documents(spark, out_dir: str, replicas: int, skewed: bool) -> None:
    docs = load_table(spark, BASE_DIR, "documents")
    parts = []
    for k in range(replicas):
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * 10_000_000)).alias("doc_id"),
                _salted(F.col("text"), k).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    d = parts[0]
    for p in parts[1:]:
        d = d.union(p)
    if skewed:
        hot = F.pmod(F.xxhash64("doc_id"), F.lit(100)) < HOT_PCT
        d = d.select(
            "doc_id",
            F.when(hot, F.lit(BOILER)).otherwise(F.col("text")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    d.repartition(16).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )


def build_customers(spark, out_dir: str, replicas: int, skewed: bool) -> None:
    """ER's whale is a BLOCK flood, not a gram flood: ~HOT_PCT% of all
    customers (same xxhash64 rule) get ONE placeholder name prefix
    ("the call-center default") in ONE nation — every replica's hot
    rows land in the same (nation, name-prefix) block, whose pairwise
    is |b|²/2 Levenshteins. Uniform replicas carry a replica-tag name
    PREFIX (scale_probe's argument: blocks stay replica-local)."""
    cust = load_table(spark, BASE_DIR, "customer")
    parts = []
    for k in range(replicas):
        name = (
            F.col("c_name") if k == 0
            else F.concat(F.lit(f"R{k}#"), F.col("c_name"))
        )
        parts.append(
            cust.select(
                (F.col("c_custkey") + F.lit(k * 10_000_000))
                .alias("c_custkey"),
                name.alias("c_name"),
                "c_nationkey", "c_acctbal", "c_mktsegment",
            )
        )
    c = parts[0]
    for p in parts[1:]:
        c = c.union(p)
    if skewed:
        hot = F.pmod(F.xxhash64("c_custkey"), F.lit(100)) < HOT_PCT
        c = c.select(
            "c_custkey",
            F.when(
                hot,
                F.concat(
                    F.lit("UNKNOWN#PLACEHOLDER"),
                    F.lpad(F.pmod("c_custkey", F.lit(97)), 2, "0"),
                ),
            ).otherwise(F.col("c_name")).alias("c_name"),
            F.when(hot, F.lit(0)).otherwise(F.col("c_nationkey"))
            .cast("int").alias("c_nationkey"),
            "c_acctbal", "c_mktsegment",
        )
    c.repartition(4).write.mode("overwrite").parquet(
        os.path.join(out_dir, "customer.parquet")
    )


def _perc_fingerprints(spark, sf_dir: str, skewed: bool):
    """The perceptual family's fingerprint table over the probe corpus,
    with the media whale planted directly in fingerprint space: ~HOT_PCT%
    of docs (same xxhash64 rule as the text whale) carry ONE identical
    (b0..b3) — the corpus-wide boilerplate image/jingle. Fingerprints
    derive from doc_id arithmetic (the synth/decode stages are
    constant-cost per doc and not the skew hazard), so the probe
    measures exactly the at-risk component: the (band, value) self-join."""
    import pandas as pd

    from hyperloglog_pyspark_spark.operators.multimodal import _perc_bits

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def bands_of(batches):
        for pdf in batches:
            cols = {f"b{i}": [] for i in range(4)}
            for d in pdf["doc_id"]:
                bits = _perc_bits(int(d))
                for i in range(4):
                    cols[f"b{i}"].append((bits >> (16 * i)) & 0xFFFF)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], **cols})

    h = docs.mapInPandas(
        bands_of, schema="doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    if skewed:
        hot = F.pmod(F.xxhash64("doc_id"), F.lit(100)) < HOT_PCT
        h = h.select(
            "doc_id",
            *[
                F.when(hot, F.lit(7777)).otherwise(F.col(f"b{i}")).alias(f"b{i}")
                for i in range(4)
            ],
        )
    return registry.tracked_persist(h)


def _perceptual_banded(spark, sf_dir: str):
    """The perceptual queries' band self-join (``_banded_hamming_pairs``,
    the code both registered forms run) over the planted-whale
    fingerprint table."""
    from hyperloglog_pyspark_spark.operators.multimodal import (
        _banded_hamming_pairs,
    )

    skewed = sf_dir.rstrip("/").endswith("xRs")
    return _banded_hamming_pairs(_perc_fingerprints(spark, sf_dir, skewed))


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2] if len(sys.argv) > 2 else None
    spark = get_spark("dedup-skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    registry.EAGER_CACHES = True
    registry.queries()

    dirs = {"x1": (1, False), "xRu": (replicas, False), "xRs": (replicas, True)}
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    for tag, (r, skewed) in dirs.items():
        build_documents(spark, os.path.join(WORK_DIR, tag), r, skewed)
        build_customers(spark, os.path.join(WORK_DIR, tag), r, skewed)

    reg = registry.REGISTRY
    runs = [
        ("minhash_lsh", reg["dedup_minhash_lsh"].fn),
        ("incremental_probe", reg["dedup_incremental_probe"].fn),
        # r9: the perceptual family's band self-join under a fingerprint
        # whale (identical boilerplate media). Unlike _lsh_candidates'
        # bucket AGGREGATION, this is a JOIN — AQE can split the probe
        # side, but the |b|² pair OUTPUT is still quadratic in the whale.
        ("perceptual_banded", _perceptual_banded),
        # r11/r12: the positional-gram exact-substring join under a gram
        # whale (the boilerplate string's ~48 8-grams each sit in every
        # hot doc). The registered form DERIVES a df-cap from the
        # gram-df distribution (max(FLOOR, HEADROOM*p99.9)) and drops
        # corpus-ubiquitous grams BEFORE the self-join; the whale's
        # grams are <0.1% of distinct grams, so p99.9 stays on the
        # natural-text df and the whale still drops.
        ("exact_substring", reg["dedup_exact_substring"].fn),
        # r15: the weighted (bag) Jaccard postings join under the gram
        # whale: the boilerplate string's word-3-grams each sit in every
        # hot doc, so the inverted join emits df² rows per gram. The
        # weighted prefix filter is the exact mitigation (rarest-first
        # prefixes keep hot grams out of the candidate join with zero
        # false negatives).
        ("weighted_jaccard", reg["dedup_weighted_jaccard"].fn),
        ("weighted_prefix_filter", reg["dedup_weighted_prefix_filter"].fn),
        # r15: blocked entity resolution under a BLOCK flood — a
        # placeholder name ("UNKNOWN#...") defeats the (nation,
        # name-prefix) blocking key, so the block self-join pays
        # |b|²/2 Levenshteins on the whale block.
        ("entity_resolution", reg["entity_resolution_blocked"].fn),
    ]
    if only is not None:
        runs = [r for r in runs if only in r[0]]
    for op, fn in runs:
        secs = {}
        for tag in dirs:
            best = None
            for _ in range(2):  # min of 2: drop one-off JIT/IO noise
                registry.release_caches()
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, os.path.join(WORK_DIR, tag)).write.format(
                    "noop"
                ).mode("overwrite").save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            secs[tag] = round(best, 2)
        r_u = round(secs["xRu"] / max(secs["x1"], 0.05), 2)
        r_s = round(secs["xRs"] / max(secs["x1"], 0.05), 2)
        row = {
            "op": op,
            "replicas": replicas,
            "hot_pct": HOT_PCT,
            "sec_1x": secs["x1"],
            "sec_Ru": secs["xRu"],
            "sec_Rs": secs["xRs"],
            "ratio_uniform": r_u,
            "ratio_skew": r_s,
            "skew_penalty": round(r_s / max(r_u, 0.01), 2),
        }
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
