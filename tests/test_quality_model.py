"""Behavioral fixture tests for the model-based quality scorer
(quality_model_score) and its curriculum integration
(curriculum_model_bins): pure-Python ground truth for the hashed-ngram
linear model, engineered source separation, and bin-ordering checks —
each also strict-compared against the DuckDB oracle."""

from __future__ import annotations

import hashlib

import duckdb

from hyperloglog_pyspark_spark.operators.curation import (
    QM_BIAS_MILLI,
    QM_N_BINS,
    QM_THRESHOLDS,
    QM_W_MOD,
)
from hyperloglog_pyspark_spark.operators.textops import FEAT_B
from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import compare, write_documents


def _duck(d: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    return con


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _bucket(gram: str) -> int:
    return _h60(gram) % FEAT_B


def _weight(bucket: int) -> int:
    return _h60(f"qw:{bucket}") % QM_W_MOD - 1000


def _py_score(text: str) -> int:
    """Pure-Python twin of _qm_doc_scores: mean-pooled milli margin."""
    toks = text.split(" ")
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    margin = sum(_weight(_bucket(g)) for g in grams)
    # Python // floors toward -inf, matching FLOOR(margin * 1.0 / n)
    return QM_BIAS_MILLI + margin // len(grams)


def _extreme_word(lo: int, hi: int, prefix: str = "w") -> str:
    """First synthetic token whose hashed-bucket weight lies in [lo, hi]."""
    for i in range(100_000):
        w = f"{prefix}{i}"
        if lo <= _weight(_bucket(w)) <= hi:
            return w
    raise AssertionError("no token found in weight band")


def test_quality_model_score_pure_python_parity(spark, tmp_path_factory):
    """The registered sweep must equal a from-scratch Python evaluation
    of the same linear model (weights re-derived from md5, mean-pool via
    floor division), AND strict-match the DuckDB oracle."""
    queries()
    d = str(tmp_path_factory.mktemp("qmparity"))
    texts = [
        ("alpha beta gamma delta", "a"),
        ("beta beta beta", "a"),
        ("x", "a"),  # single token: no bigrams
        ("the quick brown fox jumps over the lazy dog", "b"),
        ("lorem ipsum dolor sit amet", "b"),
    ]
    write_documents(d, *zip(*texts))  # (text, source) rows
    q = REGISTRY["quality_model_score"]
    got = {
        (r["source"], r["threshold_milli"]): (
            r["n_docs"], r["n_keep"], round(r["keep_rate"], 6)
        )
        for r in q.fn(spark, d).collect()
    }
    # pure-Python expectation
    by_src: dict[str, list[int]] = {}
    for text, src in texts:
        by_src.setdefault(src, []).append(_py_score(text))
    want = {}
    for src, scores in by_src.items():
        for t in QM_THRESHOLDS:
            keep = sum(1 for s in scores if s >= t)
            want[(src, t)] = (
                len(scores), keep, round(keep / len(scores), 6)
            )
    assert got == want, f"spark={got}\npython={want}"
    compare(q.fn(spark, d), _duck(d), q.oracle, "quality_model_score")


def test_quality_model_separates_engineered_sources(
    spark, tmp_path_factory
):
    """Two engineered sources — docs made of tokens hand-picked from the
    top / bottom of the weight distribution — must separate cleanly at
    threshold 0, and each source's keep curve must be nonincreasing in
    the threshold (the property that makes the sweep a usable threshold
    chooser)."""
    queries()
    d = str(tmp_path_factory.mktemp("qmsep"))
    good = _extreme_word(900, 1000)
    bad = _extreme_word(-1000, -900)
    rows = [(good, "hiq") for _ in range(8)] + [
        (bad, "loq") for _ in range(8)
    ]
    write_documents(d, *zip(*rows))
    q = REGISTRY["quality_model_score"]
    out = q.fn(spark, d).collect()
    rates = {
        (r["source"], r["threshold_milli"]): r["keep_rate"] for r in out
    }
    assert rates[("hiq", 0)] == 1.0
    assert rates[("loq", 0)] == 0.0
    for src in ("hiq", "loq"):
        curve = [rates[(src, t)] for t in sorted(QM_THRESHOLDS)]
        assert curve == sorted(curve, reverse=True), (src, curve)
    compare(q.fn(spark, d), _duck(d), q.oracle, "quality_model_score")


def test_curriculum_model_bins_orders_by_score(spark, tmp_path_factory):
    """Curriculum integration: bins within a source must tile the score
    axis in order (bin b's max <= bin b+1's min), each bin non-empty for
    a 4*k corpus, and the whole table must strict-match the oracle —
    the contract a curriculum sampler (easy bins first) relies on."""
    queries()
    d = str(tmp_path_factory.mktemp("qmbins"))
    # 12 docs in one source with spread-out scores: distinct random-ish
    # single tokens give i.i.d.-uniform weights
    rows = [(f"tok{i} tok{i + 50} tok{i * 7}", "s0") for i in range(12)]
    write_documents(d, *zip(*rows))
    q = REGISTRY["curriculum_model_bins"]
    out = sorted(q.fn(spark, d).collect(), key=lambda r: r["bin"])
    assert [r["bin"] for r in out] == list(range(1, QM_N_BINS + 1))
    assert all(r["n_docs"] == 3 for r in out)
    for a, b in zip(out, out[1:]):
        assert a["max_score_milli"] <= b["min_score_milli"], (a, b)
    for r in out:
        assert r["min_score_milli"] <= r["avg_score_milli"] <= r["max_score_milli"]
    compare(q.fn(spark, d), _duck(d), q.oracle, "curriculum_model_bins")


def _py_surprisal(texts: list[str]) -> list[int]:
    """Pure-Python twin of text_unigram_logprob's avg_surprisal_milli."""
    import math

    cnt: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            cnt[w] = cnt.get(w, 0) + 1
    total = sum(cnt.values())
    surp = {
        w: math.floor(1000.0 * math.log(total / c) + 0.5)
        for w, c in cnt.items()
    }
    out = []
    for t in texts:
        toks = t.split(" ")
        s = sum(surp[w] for w in toks)
        out.append(s // len(toks))
    return out


def _py_spearman(xs: list[int], ys: list[int]) -> float | None:
    """Pearson on doubled fractional ranks — the operator's statistic."""
    import math

    def ranks2(vs: list[int]) -> list[int]:
        out = []
        for v in vs:
            below = sum(1 for u in vs if u < v)
            ties = sum(1 for u in vs if u == v)
            out.append(2 * below + ties + 1)
        return out

    rx, ry = ranks2(xs), ranks2(ys)
    n = len(rx)
    sx, sy = sum(rx), sum(ry)
    sxx = sum(r * r for r in rx)
    syy = sum(r * r for r in ry)
    sxy = sum(a * b for a, b in zip(rx, ry))
    vx, vy = n * sxx - sx * sx, n * syy - sy * sy
    if vx == 0 or vy == 0:
        return None
    return round((n * sxy - sx * sy) / math.sqrt(float(vx) * float(vy)), 6)


def test_signal_agreement_pure_python_spearman(spark, tmp_path_factory):
    """The per-source rho must equal a from-scratch Python Spearman
    (average-rank ties, both signals recomputed from first principles),
    and the whole table must strict-match the DuckDB oracle."""
    queries()
    d = str(tmp_path_factory.mktemp("qagree"))
    texts = [
        "alpha beta gamma", "beta beta gamma gamma", "delta epsilon",
        "zeta eta theta iota", "alpha alpha alpha", "kappa",
        "lambda mu nu xi omicron", "pi rho sigma",
    ]
    write_documents(d, texts, "s0")
    q = REGISTRY["quality_signal_agreement"]
    row = q.fn(spark, d).collect()[0]
    xs = [_py_score(t) for t in texts]
    ys = _py_surprisal(texts)
    want = _py_spearman(xs, ys)
    assert row["n_docs"] == len(texts)
    assert row["spearman_rho"] == want, (row["spearman_rho"], want)
    compare(q.fn(spark, d), _duck(d), q.oracle, "quality_signal_agreement")


def test_signal_agreement_degenerate_source_is_null(
    spark, tmp_path_factory
):
    """A source whose docs are all identical has two constant signals —
    rho must be NULL (not 0, not a crash) on BOTH engines, while a
    mixed source in the same corpus still gets a real rho."""
    import math

    queries()
    d = str(tmp_path_factory.mktemp("qdegen"))
    rows = [("same same same", "const") for _ in range(5)] + [
        (f"tok{i} tok{i * 3 + 1} tok{i * 7 + 2}", "mixed") for i in range(9)
    ]
    write_documents(d, *zip(*rows))
    q = REGISTRY["quality_signal_agreement"]
    got = {r["source"]: r for r in q.fn(spark, d).collect()}
    assert got["const"]["spearman_rho"] is None
    assert got["mixed"]["spearman_rho"] is not None
    assert abs(got["mixed"]["spearman_rho"]) <= 1.0
    assert not math.isnan(got["mixed"]["spearman_rho"])
    compare(q.fn(spark, d), _duck(d), q.oracle, "quality_signal_agreement")
