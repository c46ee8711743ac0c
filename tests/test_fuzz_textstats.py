"""Differential fuzzing for the r12 corpus-statistics operators:

- quality_zipf_audit: random tiny-vocab corpora against a pure-Python
  replay of the full contract — token counts, (n DESC, token) ranking,
  micro-unit ln quantization, integer regression moments, slope/R², and
  the is_zipfian verdict (including NULL on degenerate fits).
- text_hashed_ngram_features: the same corpora against a replay of the
  uni+bigram gram stream, the 60-bit md5 bucket assignment, per-bucket
  load/distinct counts, the (n_occurrences DESC, bucket) top-N cut, and
  the collision metrics.

Both replays are independent implementations (Python ints/hashlib, no
Spark/DuckDB), so an agreement bug in the shared construction cannot
hide. Each example round-trips a real parquet file through load_table,
mirroring the registered queries exactly.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark.operators.textops import (
    FEAT_B,
    FEAT_TOP,
    _ZIPF_Q,
)
from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import write_documents

queries()

_VOCAB = ["aa", "bb", "cc", "dd", "ee"]


@st.composite
def corpora(draw):
    n = draw(st.integers(2, 8))
    return [
        " ".join(
            draw(st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=25))
        )
        for _ in range(n)
    ]


def _q_ln(v: int, q: int) -> int:
    # F.round(ln(v)*q, 0) is HALF_UP; ln(v)*q >= 0 here so floor(x+0.5)
    return int(math.floor(math.log(v) * q + 0.5))


def _fit(points):
    k = len(points)
    sx = sum(x for x, _ in points)
    sy = sum(y for _, y in points)
    sxy = sum(x * y for x, y in points)
    sxx = sum(x * x for x, _ in points)
    syy = sum(y * y for _, y in points)
    num = k * sxy - sx * sy
    dx = k * sxx - sx * sx
    dy = k * syy - sy * sy
    slope = (num / dx) if dx else None
    r2 = (num * num) / (dx * dy) if dx * dy else None
    return slope, r2


def _reference_zipf(texts):
    counts = Counter(t for text in texts for t in text.split(" "))
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (_q_ln(r + 1, _ZIPF_Q), _q_ln(n, _ZIPF_Q))
        for r, (_, n) in enumerate(ranked)
    ]
    slope, r2 = _fit(pts)
    zipfian = (
        (-1.5 <= slope <= -0.5) and r2 is not None and r2 > 0.9
        if slope is not None
        else None
    )
    # SQL three-valued logic: false AND NULL = false
    if slope is not None and not (-1.5 <= slope <= -0.5):
        zipfian = False
    return {
        r + 1: (tok, n, slope, r2, zipfian)
        for r, (tok, n) in enumerate(ranked)
    }


def _md5_bucket(gram: str) -> int:
    return int(hashlib.md5(gram.encode()).hexdigest()[:15], 16) % FEAT_B


def _reference_features(texts):
    grams = []
    for text in texts:
        tk = text.split(" ")
        grams.extend(tk)
        grams.extend(
            " ".join(tk[i : i + 2]) for i in range(len(tk) - 1)
        )
    by_bucket: dict[int, list] = defaultdict(list)
    for g in grams:
        by_bucket[_md5_bucket(g)].append(g)
    rows = sorted(
        (
            (b, len(gs), len(set(gs)))
            for b, gs in by_bucket.items()
        ),
        key=lambda r: (-r[1], r[0]),
    )
    used = len(rows)
    colliding = sum(1 for _, _, d in rows if d >= 2)
    vocab = sum(d for _, _, d in rows)
    lost = sum(d - 1 for _, _, d in rows)
    out = {}
    for rnk, (b, n_occ, n_d) in enumerate(rows[:FEAT_TOP], start=1):
        out[rnk] = (
            b, n_occ, n_d, used, colliding, lost / vocab, used / FEAT_B
        )
    return out


@given(texts=corpora())
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zipf_audit_matches_reference(texts, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("zipffuzz"))
    write_documents(d, texts, "fuzz")
    want = _reference_zipf(texts)
    got = {}
    for r in REGISTRY["quality_zipf_audit"].fn(spark, d).collect():
        slope = r["zipf_slope"]
        got[r["rank"]] = (
            r["token"],
            r["n"],
            None if slope is None else round(slope, 12),
            None if r["r2"] is None else round(r["r2"], 12),
            r["is_zipfian"],
        )
    want = {
        k: (
            tok,
            n,
            None if s is None else round(s, 12),
            None if r2 is None else round(r2, 12),
            z,
        )
        for k, (tok, n, s, r2, z) in want.items()
    }
    assert got == want


def test_zipf_audit_survives_large_vocab(spark, tmp_path_factory):
    """|V| = 3000 pushes the k·Σx² stat product to ~6e20 — past int64
    (which the pre-r13 BIGINT moments overflowed at |V| ~ 600) — so this
    pins the decimal(38,0)/HUGEINT fix on BOTH engines: Spark against
    the pure-Python big-int replay (12-dp), and Spark against the DuckDB
    oracle (rel-tol floats: the stat operands exceed 2^53 here, so the
    dec→double casts may legitimately differ by a half-ulp)."""
    import random

    import duckdb

    from hyperloglog_pyspark_spark.registry import oracle_sql

    d = str(tmp_path_factory.mktemp("zipfbig"))
    toks = []
    for i in range(3000):
        toks.extend([f"tok{i:05d}"] * max(1, 3000 // (i + 1)))
    random.Random(13).shuffle(toks)
    per = (len(toks) + 49) // 50
    texts = [" ".join(toks[i * per:(i + 1) * per]) for i in range(50)]
    texts = [t for t in texts if t]
    write_documents(d, texts, "fuzz")

    want = _reference_zipf(texts)
    rows = REGISTRY["quality_zipf_audit"].fn(spark, d).collect()
    assert len(rows) == len(want) == 3000
    for r in rows:
        tok, n, slope, r2, zipfian = want[r["rank"]]
        assert (r["token"], r["n"]) == (tok, n)
        assert round(r["zipf_slope"], 12) == round(slope, 12)
        assert round(r["r2"], 12) == round(r2, 12)
        assert r["is_zipfian"] == zipfian

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    duck = {
        row[0]: row
        for row in con.execute(oracle_sql()["quality_zipf_audit"]).fetchall()
    }
    assert len(duck) == 3000
    for r in rows[:50] + rows[-50:]:
        drank, dtok, dn, dslope, dr2, dzipf = duck[r["rank"]]
        assert (dtok, dn) == (r["token"], r["n"])
        assert math.isclose(dslope, r["zipf_slope"], rel_tol=1e-12)
        assert math.isclose(dr2, r["r2"], rel_tol=1e-12)
        assert dzipf == r["is_zipfian"]


@given(texts=corpora())
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hashed_features_matches_reference(texts, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("featfuzz"))
    write_documents(d, texts, "fuzz")
    want = _reference_features(texts)
    got = {}
    for r in REGISTRY["text_hashed_ngram_features"].fn(spark, d).collect():
        got[r["rnk"]] = (
            r["bucket"], r["n_occurrences"], r["n_distinct_grams"],
            r["n_buckets_used"], r["n_colliding_buckets"],
            round(r["gram_collision_rate"], 12), round(r["load_factor"], 12),
        )
    want = {
        k: (b, n, dd, u, c, round(cr, 12), round(lf, 12))
        for k, (b, n, dd, u, c, cr, lf) in want.items()
    }
    assert got == want
