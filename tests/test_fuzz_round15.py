"""Property fuzzing for the round-15 exact operators, against
pure-Python ground truth (not the DuckDB oracle — an independent third
implementation, so a shared-mistake between the two SQL engines can't
hide):

- ``dedup_weighted_prefix_filter``: for ANY corpus, the reported pair
  set with sum_min values equals the naive all-pairs bag-Jaccard truth
  (the no-false-negative/no-false-positive claim, fuzzed beyond the
  fixed fixtures), and the banded sibling's pairs are a SUBSET (banding
  only ever removes pairs);
- ``survival_nelson_aalen``: the cumulative hazard/variance columns
  equal a from-scratch Python Kaplan-Meier/Nelson-Aalen fold over the
  same entry/conversion/censoring definition;
- ``timeseries_autocorrelation``: every ACF value equals the dense-
  spine integer-moment formula computed directly, including corpora
  with silent (zero-count) days.

Corpora are tiny — each example writes parquet and runs real Spark
jobs, so example counts are low; ``derandomize=True`` keeps CI stable.
"""

from __future__ import annotations

import datetime
import math
import os
import shutil
import tempfile
from collections import Counter
from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import write_documents

_WORDS = [f"w{i}" for i in range(6)]


def _write_events(d: str, rows: list[tuple]) -> None:
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array([r[0] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        os.path.join(d, "events.parquet"),
    )


@st.composite
def bag_corpora(draw):
    """Texts with heavy repetition (bags must differ from sets) and
    near-dup pressure: some slots copy an earlier text, possibly with a
    few words appended — prefix/suffix structure at varied lengths."""
    n = draw(st.integers(4, 10))
    texts: list[str] = []
    for i in range(n):
        if i > 0 and draw(st.booleans()):
            base = texts[draw(st.integers(0, i - 1))].split(" ")
            extra = draw(
                st.lists(st.sampled_from(_WORDS), min_size=0, max_size=6)
            )
            texts.append(" ".join(base + extra))
        else:
            words = draw(
                st.lists(st.sampled_from(_WORDS), min_size=3, max_size=24)
            )
            texts.append(" ".join(words))
    return texts


def _bag_truth(texts: list[str], t_num: int = 1, t_den: int = 2):
    """Naive all-pairs weighted-Jaccard truth at t = t_num/t_den."""
    bags, toks = {}, {}
    for i, t in enumerate(texts):
        w = t.split(" ")
        if len(w) < 3:
            continue
        grams = [" ".join(w[j : j + 3]) for j in range(len(w) - 2)]
        bags[i] = Counter(grams)
        toks[i] = len(grams)
    out = {}
    ids = sorted(bags)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            m = sum((bags[a] & bags[b]).values())
            if m * t_den >= t_num * (toks[a] + toks[b] - m):
                out[(a, b)] = (toks[a], toks[b], m)
    return out


@given(texts=bag_corpora())
@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_weighted_prefix_filter_matches_naive_truth(texts, spark):
    queries()
    d = tempfile.mkdtemp(prefix="fz_wpf_")
    try:
        write_documents(d, texts, "fz")
        got = {
            (r["doc_a"], r["doc_b"]): (r["toks_a"], r["toks_b"], r["sum_min"])
            for r in REGISTRY["dedup_weighted_prefix_filter"].fn(
                spark, d
            ).collect()
        }
        assert got == _bag_truth(texts)
        # banding only removes pairs, never invents them
        banded = {
            (r["doc_a"], r["doc_b"])
            for r in REGISTRY["dedup_weighted_jaccard"].fn(spark, d).collect()
        }
        assert banded <= set(got)
        # the threshold: at t = 4/5 the prefix filter must still equal
        # the naive truth — shorter prefixes, same completeness. The
        # module function reads WPF_T_NUM/WPF_T_DEN when it builds the
        # plan; the registry wrapper's plan memo would serve t = 1/2.
        from hyperloglog_pyspark_spark.operators import dedup

        with mock.patch.multiple(dedup, WPF_T_NUM=4, WPF_T_DEN=5):
            strict = {
                (r["doc_a"], r["doc_b"]): (r["toks_a"], r["toks_b"], r["sum_min"])
                for r in dedup.dedup_weighted_prefix_filter(spark, d).collect()
            }
        assert strict == _bag_truth(texts, 4, 5)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@st.composite
def survival_histories(draw):
    """Per-user (signup day, optional purchase day ≥ signup) over a
    two-week window, plus an unsigned user's purchase pinning the
    horizon at or past every event."""
    n = draw(st.integers(2, 7))
    hist = []
    for u in range(1, n + 1):
        s = draw(st.integers(1, 9))
        conv = draw(st.one_of(st.none(), st.integers(0, 5)))
        hist.append((u, s, None if conv is None else s + conv))
    horizon = draw(st.integers(10, 14))
    return hist, horizon


def _na_truth(hist, horizon):
    """From-scratch KM/NA fold: per (cohort-week, t) rows."""
    # cohort week of a January 2024 day d (Jan 1 = Monday): Mondays are
    # 1, 8, 15 — the date_trunc('week') both engines apply
    def week(d):
        return d - (d - 1) % 7

    per = {}
    for u, s, c in hist:
        t = (c - s) if c is not None else (horizon - s)
        key = (week(s), t)
        d_, n_ = per.get(key, (0, 0))
        per[key] = (d_ + (1 if c is not None else 0),
                    n_ + (0 if c is not None else 1))
    out = {}
    for wk in sorted({k[0] for k in per}):
        rows = sorted((t, per[(w, t)]) for (w, t) in per if w == wk)
        total = sum(d_ + c_ for _, (d_, c_) in rows)
        at_risk, ch, cv = total, 0, 0
        for t, (d_, c_) in rows:
            ch += (10**6 * d_ + at_risk // 2) // at_risk
            cv += (10**12 * d_ + at_risk * at_risk // 2) // (
                at_risk * at_risk
            )
            out[(wk, t)] = (at_risk, d_, c_, ch, cv)
            at_risk -= d_ + c_
    return out


@given(data=survival_histories())
@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_nelson_aalen_matches_python_fold(data, spark):
    queries()
    hist, horizon = data
    d = tempfile.mkdtemp(prefix="fz_na_")
    try:
        rows = []
        for u, s, c in hist:
            rows.append(
                (datetime.datetime(2024, 1, s, 10, 0), u, "signup")
            )
            if c is not None:
                rows.append(
                    (datetime.datetime(2024, 1, c, 11, 0), u, "purchase")
                )
        rows.append(
            (datetime.datetime(2024, 1, horizon, 9, 0), 999, "purchase")
        )
        _write_events(d, rows)
        got = {
            (r["cohort_week"].day, r["t"]): (
                r["n_risk"], r["n_events"], r["n_censored"],
                r["cum_hazard_x1e6"], r["cum_var_x1e12"],
            )
            for r in REGISTRY["survival_nelson_aalen"].fn(spark, d).collect()
        }
        assert got == _na_truth(hist, horizon)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@st.composite
def daily_series(draw):
    """1-2 event types, each with counts over a ≤12-day window where
    some days are silent (the dense-spine zeros)."""
    n_days = draw(st.integers(8, 12))
    series = {}
    for t in range(draw(st.integers(1, 2))):
        series[f"t{t}"] = [
            draw(st.integers(0, 4)) for _ in range(n_days)
        ]
    # at least one nonzero somewhere on day 0 and the last day so the
    # corpus day span is exactly n_days
    k0 = sorted(series)[0]
    if series[k0][0] == 0:
        series[k0][0] = 1
    if series[k0][-1] == 0:
        series[k0][-1] = 1
    return series


def _acf_truth(series):
    n = len(next(iter(series.values())))
    out = {}
    for typ, xs in series.items():
        sx = sum(xs)
        dev = [n * x - sx for x in xs]
        den = sum(d * d for d in dev)
        for k in range(1, 8):
            if n - k <= 0:
                continue
            num = sum(dev[i] * dev[i + k] for i in range(n - k))
            out[(typ, k)] = (
                n, sx, float(num) / float(den) if den > 0 else None
            )
    return out


@given(series=daily_series())
@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_autocorrelation_matches_integer_moment_formula(series, spark):
    queries()
    d = tempfile.mkdtemp(prefix="fz_acf_")
    try:
        rows = []
        for typ, xs in series.items():
            for day, x in enumerate(xs):
                for _ in range(x):
                    rows.append(
                        (datetime.datetime(2024, 3, day + 1, 12, 0), 1, typ)
                    )
        _write_events(d, rows)
        got = {
            (r["event_type"], r["lag"]): (
                r["n_days"], r["total_events"], r["acf"]
            )
            for r in REGISTRY["timeseries_autocorrelation"].fn(
                spark, d
            ).collect()
        }
        truth = _acf_truth(series)
        # types with zero total events have no rows at all (they never
        # appear in the corpus) — drop them from the truth
        truth = {
            k: v for k, v in truth.items() if v[1] > 0
        }
        assert got == truth
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_fuzz_file_sanity():
    """The pure-Python truths agree with the hand-computed fixtures in
    test_round15_ops.py — guards the truth functions themselves."""
    truth = _bag_truth(
        [" ".join(f"w{i}" for i in range(160)),
         " ".join(f"w{i}" for i in range(200))]
    )
    assert truth == {(0, 1): (158, 198, 158)}
    na = _na_truth([(1, 1, 2), (2, 1, 3), (3, 1, None), (4, 1, None)], 6)
    assert na[(1, 1)] == (4, 1, 0, 250_000, 62_500_000_000)
    assert na[(1, 2)] == (3, 1, 0, 583_333, 173_611_111_111)
    alt = _acf_truth({"alt": [5, 1] * 7})
    assert alt[("alt", 1)] == (14, 42, float(-13 * 784) / float(14 * 784))
