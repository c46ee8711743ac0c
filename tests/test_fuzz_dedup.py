"""Property fuzzing for the MinHash/LSH dedup family: random small
corpora with forced duplication, checking the invariants the fixed
oracle suite can't sweep —

- candidate SOUNDNESS: ``_lsh_candidates`` emits only ordered (a < b)
  pairs of real doc ids, never a self-pair;
- identical-doc COMPLETENESS: byte-identical documents share every band,
  so every identical pair must surface as a candidate (MinHash's one
  exact guarantee — J = 1 ⇒ collision probability 1);
- probe VERDICT soundness (``_incremental_probe_frame``): one row per
  batch doc, confirmations never exceed candidates, and a batch doc
  with a byte-identical hist twin is always flagged;
- banded-Hamming EXACTNESS (``_banded_hamming_pairs``): the banded join
  equals the all-pairs Hamming <= T set on arbitrary fingerprints.

Corpora are tiny (≤ 18 docs) — each example is a real Spark round-trip,
so example counts are kept low; ``derandomize=True`` keeps CI stable.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark import registry
from hyperloglog_pyspark_spark.functions.texttools import word_shingles
from hyperloglog_pyspark_spark.operators.dedup import (
    _incremental_probe_frame,
    _lsh_candidates,
    _minhash_sigs,
)

_WORDS = [f"w{i}" for i in range(8)]


@st.composite
def corpora(draw):
    """List of doc texts with duplication pressure: a handful of base
    texts over a tiny alphabet, then each slot either copies an earlier
    slot (forcing identical pairs and whale buckets) or takes a fresh
    draw."""
    n = draw(st.integers(6, 18))
    texts: list[str] = []
    for i in range(n):
        if i > 0 and draw(st.booleans()):
            texts.append(texts[draw(st.integers(0, i - 1))])
        else:
            words = draw(st.lists(st.sampled_from(_WORDS), min_size=3, max_size=8))
            texts.append(" ".join(words))
    return texts


def _shingle_df(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", word_shingles("text", 3).alias("sh"))


@given(texts=corpora())
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_lsh_candidates_sound_complete_and_cap_invariant(texts, spark):
    docs = _shingle_df(spark, texts)
    sigs = _minhash_sigs(docs).persist()
    try:
        full = {tuple(r) for r in _lsh_candidates(sigs).collect()}
    finally:
        sigs.unpersist()
    ids = set(range(len(texts)))
    # soundness: ordered pairs of real ids only
    for a, b in full:
        assert a in ids and b in ids and a < b
    # completeness on the exact guarantee: identical docs always collide
    by_text: dict[str, list[int]] = {}
    for i, t in enumerate(texts):
        by_text.setdefault(t, []).append(i)
    identical = {
        (g[i], g[j])
        for g in by_text.values()
        for i in range(len(g))
        for j in range(i + 1, len(g))
    }
    assert identical <= full


@given(texts=corpora())
@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_incremental_probe_cap_verdict_sound(texts, spark):
    try:
        full = {
            r["doc_id"]: (r["is_dup"], r["n_candidates"], r["n_confirmed"])
            for r in _incremental_probe_frame(_shingle_df(spark, texts)).collect()
        }
    finally:
        registry.release_caches()
    # one row per batch doc (every 5th doc_id)
    assert set(full) == {i for i in range(len(texts)) if i % 5 == 0}
    # confirmations are a subset of the candidates
    for _, n_cand, n_conf in full.values():
        assert 0 <= n_conf <= n_cand
    # byte-identical hist twin ⇒ flagged
    hist_texts = {t for i, t in enumerate(texts) if i % 5 != 0}
    for d in full:
        if texts[d] in hist_texts:
            assert full[d][0]


@given(
    hashes=st.lists(
        st.integers(min_value=0, max_value=(1 << 64) - 1),
        min_size=2,
        max_size=14,
    ),
)
@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_banded_hamming_sound_complete_and_cap_star(hashes, spark):
    """The perceptual family's pigeonhole claim, on ARBITRARY 64-bit
    fingerprints (hypothesis loves adversarial bit patterns, e.g. many
    identical hashes piling into one band bucket): the banded join's
    pair set EQUALS the all-pairs Hamming <= T set (T=3 dirty bits
    cannot dirty all 4 bands), with correct per-pair distances."""
    from hyperloglog_pyspark_spark.operators.multimodal import (
        PERC_HAMMING_T,
        _banded_hamming_pairs,
    )

    rows = [
        (i, h & 0xFFFF, (h >> 16) & 0xFFFF, (h >> 32) & 0xFFFF, (h >> 48) & 0xFFFF)
        for i, h in enumerate(hashes)
    ]
    df = spark.createDataFrame(rows, "doc_id long, b0 long, b1 long, b2 long, b3 long")

    def ham(a, b):
        return bin(hashes[a] ^ hashes[b]).count("1")

    exact = {
        (a, b): ham(a, b)
        for a in range(len(hashes))
        for b in range(a + 1, len(hashes))
        if ham(a, b) <= PERC_HAMMING_T
    }
    got = {(r.doc_a, r.doc_b): r.hamming for r in _banded_hamming_pairs(df).collect()}
    assert got == exact


def test_normalized_exact_catches_reformatted_copies(spark, tmp_path_factory):
    """dedup_normalized_exact on a corpus with deliberately reformatted
    copies (case flips, punctuation swaps, whitespace padding): the raw
    digest must see them as distinct while the CCNet-normalized digest
    collapses each variant family — extra_dropped and
    extra_tokens_reclaimed strictly positive, and both engines agree
    (strict helpers.compare)."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyperloglog_pyspark_spark.registry import REGISTRY, oracle_sql, queries
    from tests.helpers import compare

    queries()
    d = str(tmp_path_factory.mktemp("normdedup"))
    texts = [
        "the quick brown fox",      # canonical
        "The quick brown fox.",     # case + punctuation
        "the  quick   brown fox",   # whitespace runs
        "THE QUICK, BROWN FOX!!",   # all three
        "a genuinely different doc",
        "a genuinely different doc",  # raw duplicate too
        "unique third document here",
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["fix"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    df = REGISTRY["dedup_normalized_exact"].fn(spark, d)
    compare(df, con, oracle_sql()["dedup_normalized_exact"], "norm_exact_fix")
    row = df.collect()[0]
    assert row["n_docs"] == 7
    assert row["raw_groups"] == 6 and row["raw_dropped"] == 1
    # normalization folds the 4 fox variants into one group: 3 groups
    # total (fox family, the raw-dup pair, the third doc)
    assert row["norm_groups"] == 3 and row["norm_dropped"] == 4
    assert row["extra_dropped"] == 3
    # survivor = min doc_id (the canonical fox); reclaimed counts RAW
    # whitespace-split tokens of the dropped variants (string_split
    # keeps empty tokens inside runs): 4 + 7 + 4 = 15
    assert row["extra_tokens_reclaimed"] == 15
    assert row["norm_tokens_reclaimed"] == row["raw_tokens_reclaimed"] + 15
