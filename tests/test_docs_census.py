"""Docs truth-pass: the query census must not drift.

Round-3 advice caught README.md drifting from the real registry count.
The fix was to make COVERAGE.md's header the single place the count is
written down; this test locks that convention:

- COVERAGE.md's "<N> registered queries" line equals len(REGISTRY);
- no OTHER top-level doc states its own "registered queries" count
  (they must defer to COVERAGE.md);
- every registered query has an oracle (the census line's claim).
"""

from __future__ import annotations

import inspect
import json
import os
import re

import pytest

from hyperloglog_pyspark_spark import registry
from hyperloglog_pyspark_spark.registry import REGISTRY, ordered_names, queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Docs NOT policed: COVERAGE.md is the census holder; VERDICT/ADVICE/
# BASELINE are judge/driver artifacts that legitimately record the count
# as of THEIR round (history, not claims about the present).
# PAPERS.md / SNIPPETS.md are externally-retrieved reference material, not
# engine documentation — a refresh of retrieved content must not break CI.
_EXEMPT = {"COVERAGE.md", "VERDICT.md", "ADVICE.md", "BASELINE.md",
           "PAPERS.md", "SNIPPETS.md",
           # audited-count + allowlists locked by the stronger dedicated
           # test_plans_audit_census below, not the generic count ban
           "PLANS_FULL.md"}

_CENSUS = re.compile(r"(\d+) registered queries")


def test_coverage_census_matches_registry():
    queries()
    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = _CENSUS.search(text)
    assert m, "COVERAGE.md lost its census line"
    assert int(m.group(1)) == len(REGISTRY), (
        f"COVERAGE.md says {m.group(1)} queries, registry has {len(REGISTRY)}"
    )


def test_coverage_test_census_matches_collection():
    """COVERAGE.md's "<N> collected tests" must equal a live pytest
    collection (the r7 verdict caught it drifting 384 → 398 silently):
    re-collect this very suite in a subprocess and compare. Cheap
    (collection only, ~1-2 s) and self-correcting — adding a test
    without refreshing the census line fails here."""
    import subprocess
    import sys

    text = open(os.path.join(REPO, "COVERAGE.md")).read()
    m = re.search(r"(\d+) collected tests", text)
    assert m, "COVERAGE.md lost its test-census phrase"
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q",
         "-p", "no:cacheprovider"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=120,
    )
    tail = re.search(r"(\d+) tests collected", out.stdout)
    assert tail, f"could not parse collection output: {out.stdout[-300:]}"
    assert int(m.group(1)) == int(tail.group(1)), (
        f"COVERAGE.md says {m.group(1)} tests, collection found "
        f"{tail.group(1)} — refresh the census line"
    )


def test_no_other_engine_doc_states_a_query_count():
    import glob

    for path in sorted(glob.glob(os.path.join(REPO, "*.md"))):
        if os.path.basename(path) in _EXEMPT:
            continue
        m = _CENSUS.search(open(path).read())
        assert m is None, (
            f"{os.path.basename(path)} hard-codes a query count: {m.group(0)!r}"
        )


def test_every_query_has_an_oracle():
    queries()
    missing = [n for n, q in REGISTRY.items() if q.oracle is None]
    assert not missing, f"queries without oracles: {missing}"


def test_every_query_takes_spark_and_sf_dir_only():
    """The query contract is QueryFn(spark, sf_dir): the register wrapper
    passes nothing else, so an extra parameter is a code path the
    driver, the oracle and the bench never run."""
    queries()
    extra = {
        n: list(inspect.signature(q.fn.__wrapped__).parameters)
        for n, q in REGISTRY.items()
        if list(inspect.signature(q.fn.__wrapped__).parameters)
        != ["spark", "sf_dir"]
    }
    assert not extra, f"queries with parameters beyond (spark, sf_dir): {extra}"


_PLAN_ROW = re.compile(
    r"^\| (\w+) \|(?:[^|]*\|){5} ([^|]+) \| (GWIN|-) \| (CART|-) \|$", re.M
)


def test_plans_audit_census():
    """PLANS.md / PLANS_FULL.md drift guard (VERDICT r5 #7, r6 #3): the
    audited row counts must match the live registry (full file: every
    registered query; PLANS.md: every bench-headline query), every GWIN
    row must be on plan_audit.GLOBAL_WINDOW_ALLOWED, no CART row may
    exist, and every non-empty `multi fact scans` cell must be covered
    by plan_audit.MULTI_FACT_SCAN_ALLOWED (right table, within ceiling).
    A regenerated audit that picks up a new corpus-scale global window,
    cartesian product, or redundant fact re-scan fails here even before
    the live-plan test runs."""
    import sys

    sys.path.insert(0, REPO)
    from plan_audit import GLOBAL_WINDOW_ALLOWED, MULTI_FACT_SCAN_ALLOWED

    queries()
    bench_names = {n for n, q in REGISTRY.items() if q.bench}
    for fname, expected in (
        ("PLANS.md", bench_names),
        ("PLANS_FULL.md", set(REGISTRY)),
    ):
        text = open(os.path.join(REPO, fname)).read()
        rows = _PLAN_ROW.findall(text)
        names = {r[0] for r in rows}
        assert names == expected, (
            f"{fname} stale: {len(names)} audited rows vs {len(expected)} "
            f"in registry (run `python plan_audit.py`); "
            f"missing={sorted(expected - names)[:5]} "
            f"extra={sorted(names - expected)[:5]}"
        )
        gwin = {r[0] for r in rows if r[2] == "GWIN"}
        cart = {r[0] for r in rows if r[3] == "CART"}
        assert gwin <= GLOBAL_WINDOW_ALLOWED, (
            f"{fname}: unallowlisted global-window rows {gwin - GLOBAL_WINDOW_ALLOWED}"
        )
        assert not cart, f"{fname}: CartesianProduct rows {cart}"
        bad_scans = []
        for name, fs, _, _ in rows:
            fs = fs.strip()
            if fs == "-":
                continue
            allowed = MULTI_FACT_SCAN_ALLOWED.get(name)
            for part in fs.split():
                table, n = part.split(":")
                if (
                    allowed is None
                    or allowed[0] != table
                    or int(n) > allowed[1]
                ):
                    bad_scans.append((name, part))
        assert not bad_scans, (
            f"{fname}: multi-fact-scan rows outside "
            f"plan_audit.MULTI_FACT_SCAN_ALLOWED: {bad_scans}"
        )


_GREEN = {"rows_match": True, "schema_match": True, "hash_match": True}


def _artifact(root, name: str, rows) -> None:
    with open(os.path.join(root, name), "w") as f:
        json.dump(rows, f)


def _category_round_robin(names: list[str]) -> list[str]:
    """Take each category's next name in turn, categories in order of
    first appearance, names in the order given."""
    queues: dict[str, list[str]] = {}
    for n in names:
        queues.setdefault(REGISTRY[n].category, []).append(n)
    out: list[str] = []
    while any(queues.values()):
        for q in queues.values():
            if q:
                out.append(q.pop(0))
    return out


@pytest.fixture
def artifact_root(tmp_path, monkeypatch):
    """An empty artifact directory in place of the repo root."""
    queries()
    monkeypatch.setattr(registry, "ARTIFACT_ROOT", str(tmp_path))
    return tmp_path


def test_sweep_order_never_green_name_leads(artifact_root):
    new = list(REGISTRY)[-1]
    _artifact(artifact_root, "CORRECTNESS_r01.json",
              {n: _GREEN for n in REGISTRY if n != new})
    assert ordered_names()[0] == new


def test_sweep_order_any_failed_check_is_not_green(artifact_root):
    """r02 failed the four window queries (None checks plus an err); a
    single false check is a failure too."""
    failed = {
        "window_tumbling": {**_GREEN, "rows_match": False},
        "window_sliding": {**_GREEN, "schema_match": False},
        "window_session": {**_GREEN, "hash_match": False},
        "window_lag_lead": {"rows_match": None, "schema_match": None,
                            "hash_match": None, "err": "AnalysisException"},
    }
    _artifact(artifact_root, "CORRECTNESS_r01.json", {n: _GREEN for n in REGISTRY})
    _artifact(artifact_root, "CORRECTNESS_r02.json",
              {n: failed.get(n, _GREEN) for n in REGISTRY})
    assert set(ordered_names()[:4]) == set(failed)


def test_sweep_order_later_green_supersedes_earlier(artifact_root):
    a, b = list(REGISTRY)[:2]
    _artifact(artifact_root, "CORRECTNESS_r01.json", {a: _GREEN})
    _artifact(artifact_root, "CORRECTNESS_r02.json", {b: _GREEN})
    _artifact(artifact_root, "CORRECTNESS_r03.json", {a: _GREEN})
    _artifact(artifact_root, "CORRECTNESS_r04.json",
              {n: _GREEN for n in REGISTRY if n not in (a, b)})
    assert ordered_names()[:2] == [b, a]


def test_sweep_order_same_round_interleaves_by_category(artifact_root):
    by_cat: dict[str, list[str]] = {}
    for n, q in REGISTRY.items():
        by_cat.setdefault(q.category, []).append(n)
    (x1, x2), (y1, y2) = [ns[:2] for ns in by_cat.values() if len(ns) >= 2][:2]
    _artifact(artifact_root, "CORRECTNESS_r01.json",
              {n: _GREEN for n in (x1, x2, y1, y2)})
    _artifact(artifact_root, "CORRECTNESS_r02.json",
              {n: _GREEN for n in REGISTRY if n not in (x1, x2, y1, y2)})
    assert ordered_names()[:4] == [x1, y1, x2, y2]


def test_sweep_order_without_artifacts_interleaves_whole_registry(artifact_root):
    assert ordered_names() == _category_round_robin(list(REGISTRY))


def test_sweep_order_skips_malformed_artifacts(artifact_root):
    new = list(REGISTRY)[-1]
    _artifact(artifact_root, "CORRECTNESS_r01.json",
              {n: _GREEN for n in REGISTRY if n != new})
    expected = ordered_names()
    assert expected[0] == new
    (artifact_root / "CORRECTNESS_r02.json").write_text("{not json")
    (artifact_root / "CORRECTNESS_r03.json").write_bytes(b"\xff\xfe")
    _artifact(artifact_root, "CORRECTNESS_r04.json", [{new: _GREEN}])
    _artifact(artifact_root, "CORRECTNESS_r05.json", {new: "green", "x": 1})
    _artifact(artifact_root, "CORRECTNESS_r06_c8.json", {new: _GREEN})
    _artifact(artifact_root, "CORRECTNESS_rX.json", {new: _GREEN})
    assert ordered_names() == expected


def test_sweep_order_at_head_is_oldest_green_first():
    """The live order over the committed artifacts: each name's latest
    all-three-green round never decreases along queries()."""
    import glob

    assert registry.ARTIFACT_ROOT == REPO
    latest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if all(row.get(k) is True for k in _GREEN):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    rounds = [latest.get(n, 0) for n in queries()]
    assert rounds == sorted(rounds)


def test_bench_summary_line_fits_driver_tail_window():
    """The per-round driver keeps only the LAST 2000 chars of bench.py's
    stdout (BENCH_r06.json lost 16 of 80 per-query numbers that way).
    bench.summary_line is bounded by construction — 10 slowest entries
    only — but a registry of longer names or a format change could
    regrow it; lock it against the worst case: every bench query at a
    4-digit wall."""
    import bench

    queries()
    times = {n: 9999.99 for n, q in REGISTRY.items() if q.bench}
    line = bench.summary_line(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(times.values()), 4),
            "value_min": round(sum(times.values()), 4),
            "unit": "sec",
            "queries": times,
            "sf": 0.1,
            "calibration_s": {"start": 9999.9999, "end": 9999.9999},
            "ambient_factor": 99999.99,
        }
    )
    assert len(line) < 1500, f"bench summary line grew to {len(line)} chars"
    import json as _json

    parsed = _json.loads(line)
    assert parsed["n_queries"] == len(times)
    assert len(parsed["queries"]) == 10
    # r13 verdict #2: the artifact must carry its own machine-state
    # evidence so driver-vs-builder wall divergence self-diagnoses.
    assert parsed["ambient_factor"] == 99999.99


def test_docstring_constants_interpolated():
    """registry._interpolate_doc resolves {UPPER_CONSTANT} docstring
    placeholders at registration (r14, from r13 advice: help() used to
    render literal '{SRC_CAP_PCT}' brace text). A leftover token in a
    registered query's __doc__ means the constant is defined BELOW the
    function (decoration-time getattr missed it) or was renamed —
    either way the docs lie; fail loudly."""
    import re

    queries()
    bad = {}
    for name, q in REGISTRY.items():
        left = re.findall(r"\{[A-Z][A-Z0-9_]*\}", q.fn.__doc__ or "")
        if left:
            bad[name] = left
        # Query.doc (the COVERAGE/PLANS rendering source) must agree
        # with the live __doc__ — both come from the same registration.
        assert (q.fn.__doc__ or "").strip() == q.doc, name
    assert not bad, f"unresolved docstring constants: {bad}"


def test_no_shadowed_module_constants():
    """A registered query's Spark closure reads module-level constants
    at CALL time while its oracle f-string froze them at registration —
    so a second `NAME = ...` later in the same module silently diverges
    the two engines (caught live in r13: a new K_ANON = 5 shadowed
    quality_k_anonymity's K_ANON = 10 and would have hash-mismatched
    35 classes at the sf0.01 driver gate). Reject any duplicate
    top-level UPPERCASE assignment in the engine package."""
    import ast
    import collections
    import glob
    import os

    pkg = os.path.join(os.path.dirname(__file__), "..",
                       "hyperloglog_pyspark_spark")
    offenders = []
    for f in sorted(glob.glob(os.path.join(pkg, "**", "*.py"),
                              recursive=True)):
        lines = collections.defaultdict(list)
        for node in ast.parse(open(f).read()).body:
            targets = []
            if isinstance(node, ast.Assign):
                targets = [t for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                targets = [node.target]
            for t in targets:
                if t.id.isupper():
                    lines[t.id].append(node.lineno)
        for name, ls in lines.items():
            if len(ls) > 1:
                offenders.append((os.path.basename(f), name, ls))
    assert not offenders, f"shadowed module constants: {offenders}"
