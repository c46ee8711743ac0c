"""Behavioral fixture tests for the round-15 operator batch: each
constructs a corpus where the operator's DISTINGUISHING property must
fire (the claim that separates it from its nearest sibling), runs the
registered query against the DuckDB oracle with the strict harness,
and asserts the behavior — not just the cross-engine match."""

from __future__ import annotations

import datetime
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from hyperloglog_pyspark_spark.registry import REGISTRY, oracle_sql, queries
from tests.helpers import compare, write_documents


def _write_events(d: str, rows: list[tuple]) -> None:
    """rows: (event_id, ts_iso, user_id, event_type, value)"""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array(
                    [datetime.datetime.fromisoformat(r[1]) for r in rows],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows]),
                "value": pa.array([float(r[4]) for r in rows], pa.float64()),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        os.path.join(d, "events.parquet"),
    )


def _duck(d: str, *tables: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{d}/{t}.parquet')"
        )
    return con


def test_weighted_jaccard_bucket_boundary_pair_admitted(
    spark, tmp_path_factory
):
    """The r14-advice asymmetry, pinned: a 160-word doc (word count ≡ 0
    mod 16 — exactly the boundary class) and its 178-word superset have
    J_w ≈ 0.90 and word-length buckets 10 / 11 (adjacent → admitted).
    Under the OLD oracle bucketing on SHINGLE count the buckets were
    9 / 11 and the oracle silently dropped the pair while Spark kept it
    — this fixture would have hash-mismatched. Both engines now bucket
    on word count and the pair must appear on both."""
    queries()
    d = str(tmp_path_factory.mktemp("wjbound"))
    base = [f"w{i}" for i in range(160)]
    sup = [f"w{i}" for i in range(178)]
    texts = [" ".join(base), " ".join(sup), " ".join(f"z{i}" for i in range(30))]
    write_documents(d, texts, "fix")
    con = _duck(d, "documents")
    df = REGISTRY["dedup_weighted_jaccard"].fn(spark, d)
    compare(df, con, oracle_sql()["dedup_weighted_jaccard"], "wj_boundary")
    rows = {(r["doc_a"], r["doc_b"]): r for r in df.collect()}
    assert (0, 1) in rows, "boundary pair missing"
    r = rows[(0, 1)]
    # 158 shared trigrams of the 176 in the superset
    assert r["sum_min"] == 158 and r["toks_a"] == 158 and r["toks_b"] == 176


def test_weighted_prefix_filter_finds_pair_banding_misses(
    spark, tmp_path_factory
):
    """The new operator's reason to exist: a 160-word doc inside a
    200-word superset has J_w ≈ 0.80 ≥ t but word-length buckets 10 and
    12 — dedup_weighted_jaccard's lb±1 predicate EXCLUDES it by design,
    while the prefix filter (no banding, exact) must report it. Also
    pins the prefix argument end-to-end: the shared grams have df = 2
    and sort after the superset's unique df = 1 grams, yet both
    prefixes still contain shared grams (suffix mass < t·|doc| forces
    prefixes past the unique block)."""
    queries()
    d = str(tmp_path_factory.mktemp("wpf"))
    base = [f"w{i}" for i in range(160)]
    sup = [f"w{i}" for i in range(200)]
    texts = [" ".join(base), " ".join(sup), " ".join(f"z{i}" for i in range(30))]
    write_documents(d, texts, "fix")
    con = _duck(d, "documents")
    wpf = REGISTRY["dedup_weighted_prefix_filter"].fn(spark, d)
    compare(
        wpf, con, oracle_sql()["dedup_weighted_prefix_filter"], "wpf_fix"
    )
    wpf_pairs = {(r["doc_a"], r["doc_b"]): r for r in wpf.collect()}
    assert (0, 1) in wpf_pairs, "prefix filter lost the straddling pair"
    r = wpf_pairs[(0, 1)]
    assert r["sum_min"] == 158 and r["toks_b"] == 198
    # the banded sibling misses it — that's the documented trade
    wj_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in REGISTRY["dedup_weighted_jaccard"].fn(spark, d).collect()
    }
    assert (0, 1) not in wj_pairs


def test_nelson_aalen_hand_computed_cumulative_hazard(
    spark, tmp_path_factory
):
    """Four-user cohort with a fully hand-computable trajectory:
    conversions at t=1 (1 of 4) and t=2 (1 of 3), two users censored at
    the horizon (t=5). H and Var must equal the exact integer sums of
    half-up-rounded increments: H(1)=250000, H(2)=250000+333333,
    Var(1)=10¹²/16, Var(2)=+round(10¹²/9)."""
    queries()
    d = str(tmp_path_factory.mktemp("na"))
    rows = [
        (0, "2024-01-01T10:00:00", 1, "signup", 1.0),
        (1, "2024-01-01T10:00:00", 2, "signup", 1.0),
        (2, "2024-01-01T10:00:00", 3, "signup", 1.0),
        (3, "2024-01-01T10:00:00", 4, "signup", 1.0),
        (4, "2024-01-02T09:00:00", 1, "purchase", 5.0),
        (5, "2024-01-03T09:00:00", 2, "purchase", 5.0),
        # horizon pin: a purchase by a never-signed-up user extends the
        # observation window to Jan 6 without entering the cohort
        (6, "2024-01-06T09:00:00", 99, "purchase", 5.0),
    ]
    _write_events(d, rows)
    con = _duck(d, "events")
    df = REGISTRY["survival_nelson_aalen"].fn(spark, d)
    compare(df, con, oracle_sql()["survival_nelson_aalen"], "na_fix")
    got = {r["t"]: r for r in df.collect()}
    assert set(got) == {1, 2, 5}
    assert got[1]["n_risk"] == 4 and got[1]["n_events"] == 1
    assert got[1]["cum_hazard_x1e6"] == 250_000
    assert got[1]["cum_var_x1e12"] == 62_500_000_000
    assert got[2]["n_risk"] == 3
    assert got[2]["cum_hazard_x1e6"] == 250_000 + 333_333
    assert got[2]["cum_var_x1e12"] == 62_500_000_000 + 111_111_111_111
    # censoring adds exits but no hazard: the integral is flat at t=5
    assert got[5]["n_risk"] == 2 and got[5]["n_events"] == 0
    assert got[5]["n_censored"] == 2
    assert got[5]["cum_hazard_x1e6"] == got[2]["cum_hazard_x1e6"]
    assert got[5]["cum_var_x1e12"] == got[2]["cum_var_x1e12"]


def test_subject_access_answers_absence_explicitly(spark, tmp_path_factory):
    """The spine property: a subject with orders but no events, one
    with events but no orders, and one with nothing each keep their
    manifest row, zero counts and the 1900-01-01 sentinel marking
    'nothing held'; a non-subject with plenty of data never appears."""
    queries()
    d = str(tmp_path_factory.mktemp("sar"))
    ck = [131, 262, 393, 5]
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(ck, pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
                "c_nationkey": pa.array([1] * 4, pa.int32()),
                "c_acctbal": pa.array([100.0] * 4, pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * 4),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    od = datetime.datetime(1995, 3, 10)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([10, 11, 12], pa.int64()),
                "o_custkey": pa.array([131, 131, 5], pa.int64()),
                "o_orderstatus": pa.array(["F", "O", "F"]),
                "o_totalprice": pa.array([10.25, 20.50, 99.0], pa.float64()),
                "o_orderdate": pa.array(
                    [od, od + datetime.timedelta(days=40), od],
                    pa.timestamp("us"),
                ),
                "o_orderpriority": pa.array(["1-URGENT"] * 3),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    lk = [10, 10, 11, 12, 12]
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array(lk, pa.int64()),
                "l_partkey": pa.array([1] * 5, pa.int64()),
                "l_suppkey": pa.array([1] * 5, pa.int64()),
                "l_linenumber": pa.array([1, 2, 1, 1, 2], pa.int32()),
                "l_quantity": pa.array([1.0] * 5, pa.float64()),
                "l_extendedprice": pa.array([5.0] * 5, pa.float64()),
                "l_discount": pa.array([0.0] * 5, pa.float64()),
                "l_tax": pa.array([0.0] * 5, pa.float64()),
                "l_returnflag": pa.array(["N"] * 5),
                "l_linestatus": pa.array(["O"] * 5),
                "l_shipdate": pa.array([od] * 5, pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    _write_events(
        d,
        [
            (0, "2024-02-01T10:00:00", 262, "view", 1.0),
            (1, "2024-02-02T11:00:00", 262, "view", 1.0),
            (2, "2024-02-03T12:00:00", 262, "purchase", 9.0),
            (3, "2024-02-01T10:00:00", 5, "view", 1.0),
        ],
    )
    con = _duck(d, "customer", "orders", "lineitem", "events")
    df = REGISTRY["governance_subject_access"].fn(spark, d)
    compare(df, con, oracle_sql()["governance_subject_access"], "sar_fix")
    got = {r["custkey"]: r for r in df.collect()}
    assert set(got) == {131, 262, 393}, "spine must be exactly the subjects"
    sentinel = datetime.date(1900, 1, 1)

    r = got[131]
    assert r["n_orders"] == 2 and r["total_spent_cents"] == 3075
    assert r["n_lineitems"] == 3 and r["n_events"] == 0
    fe = r["first_event_day"]
    assert (fe.date() if hasattr(fe, "date") else fe) == sentinel

    r = got[262]
    assert r["n_orders"] == 0 and r["n_lineitems"] == 0
    assert r["n_events"] == 3 and r["n_event_types"] == 2
    fo = r["first_order_date"]
    assert (fo.date() if hasattr(fo, "date") else fo) == sentinel

    r = got[393]
    assert r["n_orders"] == 0 and r["n_events"] == 0
    assert r["n_lineitems"] == 0 and r["total_spent_cents"] == 0


def test_cramers_v_separates_determined_from_independent(
    spark, tmp_path_factory
):
    """Calibration at both ends of the scale: an orders grid where
    priority is a FUNCTION of status must read exactly V = 1 (perfect
    association), and a perfectly balanced customer grid must read
    exactly V = 0 with φ² = 0 — the integer φ² formulation hits both
    endpoints with no float slack."""
    queries()
    d = str(tmp_path_factory.mktemp("cramer"))
    st, pr = [], []
    for s, p in (("O", "1-URGENT"), ("F", "2-HIGH"), ("P", "3-MEDIUM")):
        st += [s] * 20
        pr += [p] * 20
    n = len(st)
    od = datetime.datetime(1995, 1, 1)
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array(range(n), pa.int64()),
                "o_custkey": pa.array([1] * n, pa.int64()),
                "o_orderstatus": pa.array(st),
                "o_totalprice": pa.array([10.0] * n, pa.float64()),
                "o_orderdate": pa.array([od] * n, pa.timestamp("us")),
                "o_orderpriority": pa.array(pr),
            }
        ),
        os.path.join(d, "orders.parquet"),
    )
    segs, nats = [], []
    for s in ("AUTOMOBILE", "BUILDING"):
        for nk in (0, 1):
            segs += [s] * 25
            nats += [nk] * 25
    m = len(segs)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(m), pa.int64()),
                "c_name": pa.array([f"Customer#{k:09d}" for k in range(m)]),
                "c_nationkey": pa.array(nats, pa.int32()),
                "c_acctbal": pa.array([1.0] * m, pa.float64()),
                "c_mktsegment": pa.array(segs),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([0, 1], pa.int64()),
                "l_partkey": pa.array([1, 1], pa.int64()),
                "l_suppkey": pa.array([1, 1], pa.int64()),
                "l_linenumber": pa.array([1, 1], pa.int32()),
                "l_quantity": pa.array([1.0, 1.0], pa.float64()),
                "l_extendedprice": pa.array([5.0, 5.0], pa.float64()),
                "l_discount": pa.array([0.0, 0.0], pa.float64()),
                "l_tax": pa.array([0.0, 0.0], pa.float64()),
                "l_returnflag": pa.array(["N", "R"]),
                "l_linestatus": pa.array(["O", "F"]),
                "l_shipdate": pa.array([od, od], pa.timestamp("us")),
            }
        ),
        os.path.join(d, "lineitem.parquet"),
    )
    con = _duck(d, "orders", "customer", "lineitem")
    df = REGISTRY["quality_cramers_v"].fn(spark, d)
    compare(df, con, oracle_sql()["quality_cramers_v"], "cramer_fix")
    got = {r["pair"]: r for r in df.collect()}
    det = got["orders:priority_x_status"]
    assert det["cramers_v"] == 1.0 and det["phi2_x1e12"] == 2 * 10**12
    ind = got["customer:segment_x_nation"]
    assert ind["cramers_v"] == 0.0 and ind["phi2_x1e12"] == 0


def test_cuped_perfectly_predictive_covariate(spark, tmp_path_factory):
    """When the pre-period covariate fully determines the metric
    (y = 2x per user), CUPED must read θ = 2, ρ² = 1 (100 % variance
    reduction) and the adjusted means of both variants must coincide —
    the raw means differ only through covariate imbalance, which the
    adjustment removes entirely."""
    queries()
    d = str(tmp_path_factory.mktemp("cuped"))
    rows, eid = [], 0
    # span Jan 1 .. Jan 9 → cut = Jan 5; pre events Jan 1-2, exp Jan 6-9
    for u in range(1, 9):
        for i in range(u):  # x_u = u
            rows.append((eid, f"2024-01-0{1 + i % 2}T08:00:00", u, "view", 1.0))
            eid += 1
        for i in range(2 * u):  # y_u = 2u
            rows.append((eid, f"2024-01-0{6 + i % 4}T09:00:00", u, "view", 1.0))
            eid += 1
    _write_events(d, rows)
    con = _duck(d, "events")
    df = REGISTRY["experiment_cuped_adjustment"].fn(spark, d)
    compare(df, con, oracle_sql()["experiment_cuped_adjustment"], "cuped_fix")
    got = {r["variant"]: r for r in df.collect()}
    assert got[0]["theta"] == 2.0 and got[0]["rho2"] == 1.0
    # raw means differ (evens average 2·5, odds 2·4) ...
    assert got[0]["mean_y"] == 10.0 and got[1]["mean_y"] == 8.0
    # ... the adjustment removes exactly the covariate imbalance
    assert got[0]["mean_y_adj"] == got[1]["mean_y_adj"] == 9.0


def test_autocorrelation_alternating_series_and_dense_spine(
    spark, tmp_path_factory
):
    """A period-2 series (5,1,5,1,... over 14 days) must read the exact
    hand-computed ACF — negative at odd lags, positive at even lags,
    every value the single IEEE division of the integer moments. A
    second type with events on only the first and last day pins the
    dense-spine property: its 12 silent days are real zeros, so
    n_days = 14, not 2."""
    queries()
    d = str(tmp_path_factory.mktemp("acf"))
    rows, eid = [], 0
    for day in range(14):
        n = 5 if day % 2 == 0 else 1
        for _ in range(n):
            rows.append((eid, f"2024-01-{day + 1:02d}T12:00:00", 1, "alt", 1.0))
            eid += 1
    for day in (0, 13):
        rows.append((eid, f"2024-01-{day + 1:02d}T12:00:00", 2, "sparse", 1.0))
        eid += 1
    _write_events(d, rows)
    con = _duck(d, "events")
    df = REGISTRY["timeseries_autocorrelation"].fn(spark, d)
    compare(df, con, oracle_sql()["timeseries_autocorrelation"], "acf_fix")
    got = {(r["event_type"], r["lag"]): r for r in df.collect()}
    # exact: dev d = 14·x − 42 = ±28; den = 14·784; lag-k num =
    # (14−k)·(±784) with sign (−1)^k
    den = 14 * 784
    for k in range(1, 8):
        expected = float((14 - k) * 784 * (1 if k % 2 == 0 else -1)) / float(den)
        r = got[("alt", k)]
        assert r["acf"] == expected, (k, r["acf"], expected)
        assert r["n_days"] == 14 and r["total_events"] == 42
    assert got[("sparse", 1)]["n_days"] == 14
    assert got[("sparse", 1)]["total_events"] == 2


def test_entity_resolution_placeholder_flood_matches_oracle(
    spark, tmp_path_factory
):
    """A placeholder name flooding one (nation, name-prefix) block is
    the blocking key's failure mode: 96 'UNKNOWN#...' rows pay every
    one of their 96·95/2 pairwise Levenshteins, while an honest near-dup
    pair in a small block matches once; the query hash-matches its
    recursive-CTE oracle on the fixture."""
    queries()
    d = str(tmp_path_factory.mktemp("erstop"))
    names = ["Customer#000000001", "Customer#000000002"]  # lev 1, one block
    nats = [3, 3]
    for i in range(96):  # the whale block, nation 0: 2-char suffixes
        # keep every name the same length so substr(name, 1, len-2)
        # lands on ONE shared block key
        names.append(f"UNKNOWN#PLACEHOLD{i:02d}")
        nats.append(0)
    n = len(names)
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array(range(n), pa.int64()),
                "c_name": pa.array(names),
                "c_nationkey": pa.array(nats, pa.int32()),
                "c_acctbal": pa.array([1.0] * n, pa.float64()),
                "c_mktsegment": pa.array(["BUILDING"] * n),
            }
        ),
        os.path.join(d, "customer.parquet"),
    )
    con = _duck(d, "customer")
    df = REGISTRY["entity_resolution_blocked"].fn(spark, d)
    compare(df, con, oracle_sql()["entity_resolution_blocked"], "er_stop")
    got = {r["nationkey"]: r for r in df.collect()}
    assert got[0]["n_pairs"] == 96 * 95 // 2
    assert got[3]["n_pairs"] == 1 and got[3]["n_matches"] == 1
