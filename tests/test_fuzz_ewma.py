"""Differential fuzzing for timeseries_ewma_unbounded: random per-key
cent series (lengths straddling the K=46 chunk boundaries, duplicate
ordering keys resolved by the cents tiebreak, zeros, warehouse-magnitude
values) against a pure-Python big-int replay of the documented
semantics — the chunked-renormalization weights, the d ∈ {0,1} exact
prefix, the ≥chunk-2 truncation to the previous chunk's start, and the
exact integer half-up output rounding. The fixed-corpus oracle pins one
series shape per supplier; this pins the arithmetic on arbitrary ones.

Every example round-trips a real parquet file through
sources.catalog.load_table (l_shipdate lands as a timestamp, the shape
the catalog normalizes), mirroring the registered query exactly.
"""

from __future__ import annotations

import os
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark.operators.streaming_batch import EWMA_CHUNK
from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import write_documents

queries()

_DAY_US = 86_400_000_000
_T0 = 1_700_006_400_000_000

K = EWMA_CHUNK

# lengths that straddle every structural boundary of the chunking
_LENGTHS = [1, 2, K - 1, K, K + 1, 2 * K - 1, 2 * K, 2 * K + 1, 3 * K + 5]


@st.composite
def series_sets(draw):
    n_keys = draw(st.integers(1, 2))
    rows = []
    for key in range(n_keys):
        n = draw(st.sampled_from(_LENGTHS))
        for j in range(n):
            cents = draw(
                st.one_of(
                    st.integers(0, 500),
                    st.integers(0, 10_000_000),  # warehouse magnitudes
                )
            )
            # a few duplicate (shipdate, orderkey, linenumber) triples so
            # the cents tiebreak is load-bearing
            dup = draw(st.booleans()) and j > 0 and draw(st.booleans())
            rows.append((key, j // 7 if dup else j, j % 5, cents))
    return rows


def _write_lineitem(rows, dirpath):
    os.makedirs(dirpath, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "l_orderkey": pa.array([r[1] for r in rows], pa.int64()),
                "l_partkey": pa.array([1] * len(rows), pa.int64()),
                "l_suppkey": pa.array([r[0] for r in rows], pa.int64()),
                "l_linenumber": pa.array([r[2] for r in rows], pa.int64()),
                "l_quantity": pa.array([1.0] * len(rows), pa.float64()),
                "l_extendedprice": pa.array(
                    [r[3] / 100.0 for r in rows], pa.float64()
                ),
                "l_discount": pa.array([0.0] * len(rows), pa.float64()),
                "l_tax": pa.array([0.0] * len(rows), pa.float64()),
                "l_returnflag": pa.array(["N"] * len(rows)),
                "l_linestatus": pa.array(["O"] * len(rows)),
                "l_shipdate": pa.array(
                    [_T0 + (r[1] % 97) * _DAY_US for r in rows],
                    pa.timestamp("us"),
                ),
            }
        ),
        os.path.join(dirpath, "lineitem.parquet"),
    )


def _round4(x_cents: int) -> float:
    return float(
        (Decimal(x_cents) / 100).quantize(
            Decimal("0.0001"), rounding=ROUND_HALF_UP
        )
    )


def _reference(rows):
    """Big-int replay of the operator contract."""
    by_key: dict[int, list] = {}
    for key, ok, ln, cents in rows:
        # shipdate is a pure function of orderkey in _write_lineitem, so
        # the engine's (shipdate, orderkey, linenumber, cents) order is
        # reproduced by ((ok % 97), ok, ln, cents)
        by_key.setdefault(key, []).append(((ok % 97), ok, ln, cents))
    out = {}
    for key, items in by_key.items():
        items.sort()
        cents_seq = [c for _, _, _, c in items]
        for t, c in enumerate(cents_seq):
            d = t // K
            o = max(d - 1, 0) * K
            lo = o  # rows from chunks d-1 and d, i.e. i >= o, i <= t
            num = sum(
                cents_seq[i] * (1 << (max(i, 1) - o)) for i in range(lo, t + 1)
            )
            e = t + 1 - o
            scaled = (num * 100 + (1 << (e - 1))) >> e  # exact half-up
            out[(key, t)] = (_round4(c), scaled / 10000.0)
    return out


@given(rows=series_sets())
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ewma_unbounded_matches_reference(rows, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ewmafuzz"))
    _write_lineitem(rows, d)
    want = _reference(rows)
    got = {
        (r["l_suppkey"], r["t"]): (r["v"], r["ewma"])
        for r in REGISTRY["timeseries_ewma_unbounded"].fn(spark, d).collect()
    }
    assert got == want


def test_heaps_law_degenerate_fit_is_null_on_both_engines(
    spark, tmp_path_factory
):
    """A vocabulary saturated at doc 0 makes cum_vocab constant → the
    Heaps covariance num and the R² denominator dy are exactly 0: beta
    is 0/dx = 0.0, R² is 0/0 which the NULLIF guard turns into NULL on
    BOTH engines (Spark's bare-session ANSI default would otherwise
    raise DIVIDE_BY_ZERO while DuckDB returns NaN — a crash-vs-garbage
    cross-engine split), and the verdict is FALSE (beta out of band AND
    NULL → false). The curve columns stay populated and hash-match."""
    import duckdb

    from hyperloglog_pyspark_spark.registry import REGISTRY
    from tests.helpers import canon_rows

    d = str(tmp_path_factory.mktemp("heapsdegen"))
    write_documents(d, ["a b c", "a b", "c a", "b c a"], "x")
    q = REGISTRY["quality_heaps_law"]
    rows = q.fn(spark, d).collect()
    assert all(
        r["heaps_beta"] == 0.0 and r["r2"] is None and r["is_heapsian"] is False
        for r in rows
    )
    assert [r["cum_vocab"] for r in sorted(rows, key=lambda r: r["doc_id"])] == [
        3, 3, 3, 3
    ]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet')"
    )
    assert canon_rows(q.fn(spark, d).toPandas()) == canon_rows(
        con.execute(q.oracle).df()
    )
