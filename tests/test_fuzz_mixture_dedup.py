"""Differential fuzzing for the r13 curation operators:

- mixture_source_share_cap: random per-source token supplies against a
  pure-Python replay of the full fixpoint contract — smallest valid
  cut m, implied cap, grants, capped flags, kept totals — including
  the degenerate all-capped (drop-all fallback) and single-source
  corners that fixed fixtures rarely hit.
- dedup_normalized_exact: random corpora with random case flips /
  punctuation swaps / whitespace padding against an independent
  Python replay of both digests' group structure (raw and CCNet-
  normalized), the min-doc_id survivor rule, and the token accounting.

Both replays are independent implementations (Python ints / re, no
Spark/DuckDB); each example round-trips a real parquet file through
load_table, mirroring the registered queries exactly.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark.operators.trainprep import SRC_CAP_PCT
from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import write_documents

queries()

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


# --- mixture_source_share_cap ----------------------------------------------


def _reference_share_cap(supply: dict[str, int]):
    """Pure-Python fixpoint: smallest m whose implied cap separates the
    (tokens DESC, source) sort at position m; grants = min(t, cap)."""
    order = sorted(supply.items(), key=lambda kv: (-kv[1], kv[0]))
    toks = [t for _, t in order]
    total, n, c = sum(toks), len(toks), SRC_CAP_PCT
    cap = None
    for m in range(n + 1):
        s_u, d = total - sum(toks[:m]), 100 - m * c
        if d <= 0:
            continue
        first_unc = toks[m] if m < n else 0
        if first_unc * d <= c * s_u and (m == 0 or toks[m - 1] * d > c * s_u):
            cap = (c * s_u) // d
            break
    if cap is None:
        cap = 0  # no separating cut: the drop-all fallback fires
    grants = {s: min(t, cap) for s, t in supply.items()}
    return cap, grants, sum(grants.values())


@st.composite
def supplies(draw):
    n = draw(st.integers(1, 36))
    # clustered magnitudes so exact ties and near-boundary cuts occur
    vals = draw(
        st.lists(
            st.sampled_from([1, 5, 25, 25, 25, 90, 400]),
            min_size=n, max_size=n,
        )
    )
    return {f"s{i:02d}": v for i, v in enumerate(vals)}


@given(supply=supplies())
@_SETTINGS
def test_share_cap_matches_reference(supply, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("capfuzz"))
    supply_rows = sorted(supply.items())
    write_documents(
        d,
        [" ".join(f"t{j}" for j in range(t)) for _, t in supply_rows],
        [s for s, _ in supply_rows],
    )
    cap, grants, kept = _reference_share_cap(supply)
    out = {r["source"]: r for r in
           REGISTRY["mixture_source_share_cap"].fn(spark, d).collect()}
    assert set(out) == set(supply)
    for s, r in out.items():
        assert r["tokens_available"] == supply[s]
        assert r["cap_tokens"] == cap, (s, supply)
        assert r["granted_tokens"] == grants[s], (s, supply)
        assert r["capped"] == (supply[s] > cap)
        assert r["kept_total_tokens"] == kept
        if kept == 0:
            assert r["share_after_pct"] is None
        else:
            # Gopher contract on the kept mixture (+1 token floor slack)
            assert r["granted_tokens"] * 100 <= SRC_CAP_PCT * kept + 100


# --- dedup_normalized_exact -------------------------------------------------

_NORM_RE = re.compile(r"[^a-z0-9]+")


def _reference_normalized(texts):
    def norm(t):
        return _NORM_RE.sub(" ", t.lower()).strip()

    def summarize(keys):
        groups = defaultdict(list)
        for i, k in enumerate(keys):
            groups[k].append(i)
        dropped = sum(len(g) - 1 for g in groups.values())
        reclaimed = sum(
            sum(len(texts[i].split(" ")) for i in g[1:]) for g in groups.values()
        )
        return len(groups), dropped, reclaimed

    raw = summarize(texts)
    nm = summarize([norm(t) for t in texts])
    return raw, nm


@st.composite
def mutated_corpora(draw):
    n_base = draw(st.integers(1, 6))
    words = ["aa", "bb", "cc", "dd"]
    bases = [
        " ".join(draw(st.lists(st.sampled_from(words), min_size=1, max_size=6)))
        for _ in range(n_base)
    ]
    texts = []
    for b in bases:
        texts.append(b)
        for _ in range(draw(st.integers(0, 3))):
            t = b
            if draw(st.booleans()):
                t = t.upper()
            if draw(st.booleans()):
                t = t.replace(" ", "  ", 1)
            if draw(st.booleans()):
                t = t + draw(st.sampled_from([".", "!!", ", ", " ?"]))
            texts.append(t)
    return texts


@given(texts=mutated_corpora())
@_SETTINGS
def test_normalized_exact_matches_reference(texts, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("normfuzz"))
    write_documents(d, texts, "src")
    (rg, rd, rr), (ng, nd, nr) = _reference_normalized(texts)
    row = REGISTRY["dedup_normalized_exact"].fn(spark, d).collect()[0]
    assert row["n_docs"] == len(texts)
    assert (row["raw_groups"], row["raw_dropped"],
            row["raw_tokens_reclaimed"]) == (rg, rd, rr)
    assert (row["norm_groups"], row["norm_dropped"],
            row["norm_tokens_reclaimed"]) == (ng, nd, nr)
    assert row["extra_dropped"] == nd - rd
    assert row["extra_tokens_reclaimed"] == nr - rr


def test_r13_operators_agree_under_null_text(spark, tmp_path_factory):
    """NULL/empty text — the least-exercised surface (fixtures are
    NULL-free): both engines must agree on md5(NULL) group keys (NULLs
    group together), size(split(NULL)) = NULL skipped by the token
    sums, and the share-cap's per-source totals when a source's only
    rows are NULL. Strict engine compare on the two document-side r13
    operators (ann_rebuild_policy reads embeddings, which are non-null
    by schema) plus the Zipf audit (explode drops NULL token arrays on
    both engines)."""
    import duckdb

    from hyperloglog_pyspark_spark.registry import oracle_sql
    from tests.helpers import compare

    d = str(tmp_path_factory.mktemp("nulldocs"))
    texts = ["aa bb cc", None, "aa bb cc", "dd ee", None, ""]
    write_documents(d, texts, ["s0", "s0", "s1", "s1", "s2", "s2"])
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    for name in (
        "dedup_normalized_exact",
        "mixture_source_share_cap",
        "quality_zipf_audit",
    ):
        compare(REGISTRY[name].fn(spark, d), con, oracle_sql()[name],
                f"nulls:{name}")


def test_moment_stats_survive_large_magnitudes(spark, tmp_path_factory):
    """Regression for the r13 moment-sizing sweep: values at 1e7 units
    (1e9 cents) push per-stratum Σc² to ~1e20 — past int64, which the
    pre-r13 BIGINT moments crashed on under ANSI — while staying exact
    in the decimal(38,0)/HUGEINT accumulators. Strict engine compare of
    experiment_ab_ttest and sample_neyman_allocation on the extreme
    corpus (t/σ outputs are rounded doubles of sub-2^53-difference
    operands here, so the compare stays bit-strict)."""
    import datetime

    import duckdb

    from hyperloglog_pyspark_spark.registry import oracle_sql
    from tests.helpers import compare

    d = str(tmp_path_factory.mktemp("bigmoments"))
    base = datetime.datetime(2024, 1, 1)
    n = 120
    rows = []
    for i in range(n):
        rows.append(
            (
                i,
                base + datetime.timedelta(minutes=i),
                i,  # user_id parity = variant
                "purchase" if i % 3 else "click",
                1.0e7 + (i % 7) * 1.25e5,  # cents ~1e9, c^2 ~1e18
                "{}",
            )
        )
    pa_tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows]),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(pa_tbl, os.path.join(d, "events.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    for name in ("experiment_ab_ttest", "sample_neyman_allocation"):
        df = REGISTRY[name].fn(spark, d)
        compare(df, con, oracle_sql()[name], f"bigmoments:{name}")
        assert df.count() > 0


def test_k_anonymity_ladder_on_known_groups(spark, tmp_path_factory):
    """governance_k_anonymity's generalization ladder on a hand-built
    customer table: at the $100 grain three AUTO classes (6/3/2) plus a
    negative-balance singleton; the $1000 grain MERGES the 3+2 classes
    (the generalization win) but the singleton persists until the
    balance is dropped entirely — only nation+segment satisfies k=5.
    The -999.99 balance pins floor semantics (bucket -10/-1 — a
    truncate-toward-zero div would misbucket it to 0 with the small
    positives). Strict engine compare on top."""
    import duckdb

    from hyperloglog_pyspark_spark.registry import oracle_sql
    from tests.helpers import compare

    d = str(tmp_path_factory.mktemp("kanon"))
    rows = (
        [(i, 1, "AUTO", 1500.0) for i in range(6)]
        + [(10 + i, 1, "AUTO", 2500.0) for i in range(3)]
        + [(20 + i, 1, "AUTO", 2650.0) for i in range(2)]
        + [(30, 1, "AUTO", -999.99)]
    )
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
                "c_name": pa.array([f"c{r[0]}" for r in rows]),
                "c_nationkey": pa.array([r[1] for r in rows], pa.int32()),
                "c_acctbal": pa.array([r[3] for r in rows], pa.float64()),
                "c_mktsegment": pa.array([r[2] for r in rows]),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW customer AS SELECT * FROM "
        f"read_parquet('{d}/customer.parquet')"
    )
    df = REGISTRY["governance_k_anonymity"].fn(spark, d)
    compare(df, con, oracle_sql()["governance_k_anonymity"], "kanon_ladder")
    got = {r["level"]: r for r in df.collect()}
    want = {
        # level: (n_groups, k_level, n_risky, rows_at_risk, satisfies)
        "nation+segment+bal_100": (4, 1, 3, 6, False),
        "nation+segment+bal_1000": (3, 1, 1, 1, False),
        "nation+segment+bal_10000": (2, 1, 1, 1, False),
        "nation+segment": (1, 12, 0, 0, True),
    }
    assert set(got) == set(want)
    for lv, (ng, k, nr, rar, sat) in want.items():
        r = got[lv]
        assert (r["n_groups"], r["k_level"], r["n_risky_groups"],
                r["rows_at_risk"], r["satisfies_k"]) == (ng, k, nr, rar, sat), lv
    assert got["nation+segment+bal_100"]["risk_rate"] == 0.5
    assert got["nation+segment"]["risk_rate"] == 0.0


def test_ks_drift_detects_shift_and_matches_replay(spark, tmp_path_factory):
    """quality_ks_drift on a corpus with a REAL period shift: 'drift'
    events double their values after the PSI/KS split date (KS = 0.5,
    significant at n=400/side), while 'stable' events keep one
    distribution (not significant). Exact-integer Python replay of the
    cross-multiplied ECDF max and the micro-rounded KS; strict engine
    compare on top."""
    import datetime

    import duckdb

    from hyperloglog_pyspark_spark.operators.quality import (
        _PSI_SPLIT,
        KS_CRIT_SQ_MICRO,
    )
    from hyperloglog_pyspark_spark.registry import oracle_sql
    from tests.helpers import compare

    split = datetime.datetime.fromisoformat(_PSI_SPLIT)
    before = split - datetime.timedelta(days=5)
    after = split + datetime.timedelta(days=5)
    rows = []
    for i in range(400):
        # drift: uniform cents 100..499 before, 600..999 after
        rows.append((len(rows), before, i, "drift", 1.0 + (i % 400) / 100.0))
        rows.append((len(rows), after, i, "drift", 6.0 + (i % 400) / 100.0))
        # stable: same uniform both sides
        rows.append((len(rows), before, i, "stable", 1.0 + (i % 50) / 100.0))
        rows.append((len(rows), after, i, "stable", 1.0 + ((i + 7) % 50) / 100.0))
    d = str(tmp_path_factory.mktemp("ksdrift"))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([r[4] for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        os.path.join(d, "events.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{d}/events.parquet')"
    )
    df = REGISTRY["quality_ks_drift"].fn(spark, d)
    compare(df, con, oracle_sql()["quality_ks_drift"], "ks_drift_fix")

    # independent integer replay
    def replay(typ):
        a, b = {}, {}
        for _, ts, _, t, v in rows:
            if t != typ:
                continue
            c = int(round(v * 100))
            (a if ts < split else b)[c] = (a if ts < split else b).get(c, 0) + 1
        vals = sorted(set(a) | set(b))
        ta, tb = sum(a.values()), sum(b.values())
        ca = cb = 0
        d_num = 0
        for v in vals:
            ca += a.get(v, 0)
            cb += b.get(v, 0)
            d_num = max(d_num, abs(ca * tb - cb * ta))
        ks_micro = (2 * d_num * 1_000_000 + ta * tb) // (2 * ta * tb)
        sig = ks_micro * ks_micro * ta * tb > KS_CRIT_SQ_MICRO * (ta + tb) * 1_000_000
        return ta, tb, ks_micro, sig

    got = {r["event_type"]: r for r in df.collect()}
    for typ in ("drift", "stable"):
        ta, tb, ks_micro, sig = replay(typ)
        r = got[typ]
        assert (r["n_a"], r["n_b"], r["ks_micro"], r["significant"]) == (
            ta, tb, ks_micro, sig
        ), typ
    assert got["drift"]["significant"] is True
    assert got["drift"]["ks"] >= 0.5
    assert got["stable"]["significant"] is False
