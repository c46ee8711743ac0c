"""Query registry — the single source of truth for the driver contract.

Every operator the engine implements registers exactly one named query
(a Spark callable) and, when SQL-expressible, a DuckDB oracle string.
``__spark_entry__.py`` re-exports ``queries()`` / ``oracle_sql()`` from
here; the per-round driver compares both at sf0.01 by row-count + schema +
order-insensitive value hash.

Hash-match discipline (see tests/helpers.py for the mirror harness):
- alias every computed column identically on both sides;
- money arithmetic in DECIMAL (exact, order-independent), cast to DOUBLE
  only at output;
- raw double aggregates rounded on both sides;
- timestamps surfaced as DATE / epoch millis (floor), never raw ns/us.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field
from itertools import zip_longest

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    category: str
    doc: str = ""
    bench: bool = False  # included in bench.py headline set
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}

# ---------------------------------------------------------------------------
# Tracked persists. Operators persist intermediates (e.g. the LSH signature
# table) that must stay cached across re-invocations of the SAME query
# (bench reps, warm reruns) but must NOT accumulate across a full
# sweep — that is a session-long memory leak. Invoking a registered query
# releases every cache owned by a DIFFERENT query, so at most one query's
# caches are live at a time; release_caches() frees the rest (tests call it
# after a sweep and assert sc.getPersistentRDDs is empty).
# ---------------------------------------------------------------------------

_current_query: str | None = None
# (owner query, dataframe handle, RDD-level cache ids). The ids are only
# non-empty for localCheckpoint entries: df.unpersist() removes
# cacheManager entries but NOT a checkpoint's RDD-level blocks (those are
# invisible to the cache manager and otherwise linger until GC/
# ContextCleaner) — release_caches unpersists them by id explicitly.
_live_caches: list[tuple[str, DataFrame, tuple[int, ...]]] = []

# Eager cache materialization: operators that persist an intermediate
# consumed by both sides of a self-join (dedup_simhash's fingerprint
# table) build the cache with an explicit count() before joining —
# measured ~5x faster than letting the join's branches race to fill it.
# Default OFF: building a registered query's plan must never run a job,
# so plan-only consumers (layout tests, plan_audit, registry
# enumeration) are safe without wrapping anything. Execution paths opt
# in: __spark_entry__ (the driver contract), bench.py, and the pytest
# session fixture all set this True before running queries; the persist
# alone still prevents double-compute when a lazily-built plan executes.
EAGER_CACHES = False


@contextmanager
def lazy_caches():
    """Suppress eager cache builds (plan inspection)."""
    global EAGER_CACHES
    prev, EAGER_CACHES = EAGER_CACHES, False
    try:
        yield
    finally:
        EAGER_CACHES = prev


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() with session-scoped bookkeeping (see note above)."""
    df.persist()
    _live_caches.append((_current_query or "<adhoc>", df, ()))
    return df


def _checkpoint(df: DataFrame, owner: str) -> DataFrame:
    """Eager localCheckpoint tracked under ``owner``.

    The checkpoint's storage lives at the RDD level, which
    ``DataFrame.unpersist`` cannot reach — so the persistent-RDD ids that
    appear during the (eager, synchronous) checkpoint are recorded and
    released by id (``_release_where``)."""
    jsc = df.sparkSession.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    new_ids = tuple(
        k for k in jsc.getPersistentRDDs().keySet().toArray() if k not in before
    )
    _live_caches.append((owner, out, new_ids))
    return out


def checkpoint_tracked(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint owned by the running query (freed when the
    next query runs, or by release_caches())."""
    return _checkpoint(df, _current_query or "<adhoc>")


def checkpoint_rounds(df: DataFrame) -> DataFrame:
    """Per-round lineage truncation for FIXED-iteration operators (BFS,
    k-means — loop count independent of the data; PageRank only past
    its deep-run cadence).

    At execution time (EAGER_CACHES, set by __spark_entry__ / bench /
    the test session) this is checkpoint_tracked: each round runs on a
    truncated lineage instead of an exponentially re-embedded subplan.
    In plan-only mode it is a NO-OP, which keeps two invariants the
    eager checkpoint would break: building a registered plan never runs
    a job, and the plan audits (no-cartesian / no-global-window /
    PLANS_FULL) see the iteration's UNROLLED interior instead of a
    LogicalRDD stub — so a bad join introduced inside a round cannot
    hide behind the checkpoint. Data-DRIVEN loops (connected
    components' fixpoint) must keep checkpoint_tracked: their round
    count requires execution anyway, and skipping truncation there
    makes the digest loop quadratic.
    """
    if not EAGER_CACHES:
        return df
    return checkpoint_tracked(df)


def _release_where(drop: Callable[[str, DataFrame], bool]) -> set[str]:
    """Unpersist every tracked frame ``drop(owner, df)`` selects — its
    cacheManager entry and, for checkpoints, its RDD blocks by id — and
    return the owners released."""
    global _live_caches
    kept: list[tuple[str, DataFrame, tuple[int, ...]]] = []
    released: set[str] = set()
    for owner, df, rdd_ids in _live_caches:
        if not drop(owner, df):
            kept.append((owner, df, rdd_ids))
            continue
        released.add(owner)
        df.unpersist()
        if rdd_ids:
            jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
            for rid in rdd_ids:
                if jmap.containsKey(rid):
                    jmap.get(rid).unpersist()
    _live_caches = kept
    return released


# ---------------------------------------------------------------------------
# Session memo store. A warm re-invocation in a long-lived session should
# not redo driver-side work whose result cannot have changed: rebuilding a
# registered query's plan (measured 0.7-1.2 s of py4j chatter and JVM
# re-analysis per warm bench rep), re-reading a table's footers, or
# re-running a training loop whose output rides checkpoint-truncated
# lineage (and so can never be found again by the CacheManager's
# plan-canonical lookup). One dict holds all of it, in five families:
#   "plan"  registered-query DataFrames (register's wrapper);
#   "load"  load_table's normalized scans;
#   "cc"    connected-components fixpoints (dedup);
#   "km"    trained k-means centroid rows (similarity);
#   "pq"    trained PQ codebooks (similarity).
# The rules, each stated once:
# - Key: (family, applicationId, session identity, *parts). The session
#   identity is the py4j id of the JVM session handle (free to read), so
#   a newSession() sharing the applicationId never gets its parent's
#   entries. parts: plan (sf_dir, query), load (sf_dir, table,
#   spread_scan), model families the semanticHash of each input's
#   analyzed plan.
# - sameResult: a model-family hash hit must also sameResult() every
#   stored analyzed input plan; a collision rebuilds and replaces.
# - EAGER_CACHES gate: plan and model families engage only at execution
#   time, so plan-only consumers always see a fresh build of the current
#   code (and the plan audits the unrolled loop interior), and storing
#   never runs a checkpoint job. load is plan-only work and always on.
# - Honesty gate: a plan is stored only when its builder ran zero jobs in
#   the caller's job group. Builders that do work at build time (sink
#   writes, eager cache counts, training checkpoints) re-run it every
#   invocation; nothing execution-shaped is ever skipped.
# - "_memo" ownership: model frames are eager localCheckpoints owned by
#   "_memo", which survive the per-query release_caches(keep=<query>)
#   (several queries share one fixpoint or model). A full
#   release_caches() frees them and empties the store.
# - Cap: each model family keeps at most MEMO_CAP entries, FIFO.
#   Evicting or replacing a model entry unpersists its blocks and drops
#   every plan entry, since a memoized plan may embed the freed
#   checkpoint. A caller still holding an evicted frame cannot collect it
#   again — the usual cache-eviction contract; registered queries never
#   hold one across other queries' training calls.
# - Plan entries also die with their query's caches: releasing a query's
#   tracked persists drops its plan entries (a memoized plan over
#   unpersisted frames would silently recompute them per scan site).
# - Caveat: localCheckpoint blocks are non-reliable. On a real cluster an
#   executor loss makes a later memo hit fail rather than recompute, so
#   long-lived multi-tenant sessions should bound memo lifetime below
#   their executor-churn horizon or use reliable checkpoints.
# ---------------------------------------------------------------------------

MEMO_CAP = 8
_MEMO: dict[tuple, tuple[tuple, DataFrame]] = {}  # key -> (jplans, frame)


def memo_key(family: str, spark: SparkSession, *parts) -> tuple:
    return (
        family,
        spark.sparkContext.applicationId,
        spark._jsparkSession._target_id,
        *parts,
    )


def memo_get(key: tuple, jplans: tuple = ()) -> DataFrame | None:
    hit = _MEMO.get(key)
    if hit is None or not all(a.sameResult(b) for a, b in zip(hit[0], jplans)):
        return None
    return hit[1]


def memo_put(key: tuple, frame: DataFrame, jplans: tuple = ()) -> None:
    if key in _MEMO:
        _memo_evict(key)
    _MEMO[key] = (jplans, frame)


def memo_entries(family: str) -> dict[tuple, tuple[tuple, DataFrame]]:
    """The store's entries of one family (key -> (jplans, frame))."""
    return {k: v for k, v in _MEMO.items() if k[0] == family}


def _memo_drop(pred: Callable[[tuple], bool]) -> None:
    for k in [k for k in _MEMO if pred(k)]:
        del _MEMO[k]


def _memo_evict(key: tuple) -> None:
    frame = _MEMO.pop(key)[1]
    if _release_where(lambda owner, df: owner == "_memo" and df is frame):
        _memo_drop(lambda k: k[0] == "plan")


def memoized_frame(
    family: str, inputs: tuple[DataFrame, ...], build: Callable[[], DataFrame]
) -> DataFrame:
    """``build()``'s model frame, memoized per session on ``inputs``' plans."""
    if not EAGER_CACHES:
        return build()
    try:
        jplans = tuple(df._jdf.queryExecution().analyzed() for df in inputs)
        key = memo_key(
            family,
            inputs[0].sparkSession,
            *(j.canonicalized().semanticHash() for j in jplans),
        )
    except Exception:  # unexpected py4j surface change: skip memoization
        return build()
    hit = memo_get(key, jplans)
    if hit is not None:
        return hit
    # checkpointing under "_memo" detaches the result from the training
    # rounds' blocks, which the next query's release frees
    out = _checkpoint(build(), "_memo")
    fifo = [k for k in _MEMO if k[0] == family and k != key]
    while len(fifo) >= MEMO_CAP:
        _memo_evict(fifo.pop(0))
    memo_put(key, out, jplans)
    return out


def _job_probe(spark: SparkSession) -> Callable[[], int | None]:
    """A probe for the highest job id the calling thread's job group has
    run (-1 before any; the null group when no group is set). It returns
    None when the status tracker is unavailable — callers then skip
    memoization (the safe direction)."""
    try:
        sc = spark.sparkContext
        jtracker = sc._jsc.statusTracker()
        arrays = sc._jvm.java.util.Arrays
        group = sc.getLocalProperty("spark.jobGroup.id")
    except Exception:
        return lambda: None

    def probe() -> int | None:
        # max on the JVM: list() over the returned array would pay one
        # py4j round-trip per job the status store retains
        try:
            ids = jtracker.getJobIdsForGroup(group)
            return arrays.stream(ids).max().orElse(-1)
        except Exception:
            return None

    return probe


def release_caches(keep: str | None = None) -> None:
    """Unpersist tracked caches, except those owned by query ``keep`` or
    by "_memo"; a FULL release (keep is None) frees everything and
    empties the memo store."""
    released = _release_where(
        lambda owner, df: keep is None or owner not in (keep, "_memo")
    )
    if keep is None:
        _MEMO.clear()
    elif released:
        _memo_drop(lambda k: k[0] == "plan" and k[-1] in released)


def _interpolate_doc(fn: QueryFn) -> str:
    """Resolve ``{UPPER_CONSTANT}`` placeholders in a query docstring
    against the defining module's namespace, at registration time.

    Query docstrings quote their tuning constants (k, caps, band
    widths); the oracle f-strings interpolate those constants but a
    plain docstring cannot (an f-string is not a docstring — CPython
    only sets ``__doc__`` for literal strings), so help() used to
    render the literal ``{SRC_CAP_PCT}`` brace text (r13 advice).
    Freezing the value here matches exactly when the oracle freezes
    its copy. Only ``{ALL_CAPS}`` tokens that resolve to an attribute
    of the module are substituted — literal braces in prose or dict
    examples pass through untouched.
    """
    doc = fn.__doc__ or ""
    mod = sys.modules.get(fn.__module__)

    def sub(m: re.Match) -> str:
        val = getattr(mod, m.group(1), None)
        return str(val) if val is not None else m.group(0)

    return re.sub(r"\{([A-Z][A-Z0-9_]*)\}", sub, doc)


def register(
    name: str,
    oracle: str | None = None,
    category: str = "misc",
    bench: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        fn.__doc__ = _interpolate_doc(fn)

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # Free caches left behind by other queries (keep our own so
            # bench reps / warm reruns still hit the persisted plan).
            global _current_query
            release_caches(keep=name)
            if not EAGER_CACHES:
                key, probe = None, lambda: None
            else:
                key = memo_key("plan", spark, os.path.abspath(sf_dir), name)
                hit = memo_get(key)
                if hit is not None:
                    return hit
                probe = _job_probe(spark)
            prev, _current_query = _current_query, name
            try:
                before = probe()
                df = fn(spark, sf_dir)
                if before is not None and probe() == before:
                    # pure builder: no job ran, nothing was written or
                    # materialized — the plan handle is safely reusable
                    memo_put(key, df)
                return df
            finally:
                _current_query = prev

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(
            name=name, fn=wrapped, oracle=oracle, category=category,
            doc=(fn.__doc__ or "").strip(), bench=bench, tags=tags,
        )
        return fn

    return deco


# The driver writes one CORRECTNESS_r<round>.json per round next to the
# package (the repo root __spark_entry__ puts on sys.path).
ARTIFACT_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ordered_names() -> list[str]:
    """Registry names in driver-sweep order.

    The driver checks a prefix of queries() each round and records it in
    CORRECTNESS_r<round>.json under ARTIFACT_ROOT. Each name's age is the
    latest round whose row has rows_match, schema_match and hash_match
    all true (0 when it has none, or no artifact exists); names come
    oldest first, and within one round round-robin by category (registry
    order within a category), so any prefix touches the widest category
    spread. Unreadable files and malformed rows are skipped.
    """
    latest: dict[str, int] = {}
    checks = ("rows_match", "schema_match", "hash_match")
    for path in glob.glob(os.path.join(ARTIFACT_ROOT, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path)
        if m is None:
            continue
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError, RecursionError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and all(row.get(k) is True for k in checks):
                latest[name] = max(latest.get(name, 0), int(m.group(1)))
    by_round: dict[int, dict[str, list[str]]] = {}
    for name, q in REGISTRY.items():
        cats = by_round.setdefault(latest.get(name, 0), {})
        cats.setdefault(q.category, []).append(name)
    return [
        n
        for r in sorted(by_round)
        for batch in zip_longest(*by_round[r].values())
        for n in batch
        if n is not None
    ]


def queries() -> dict[str, QueryFn]:
    import hyperloglog_pyspark_spark as pkg

    pkg.load_all_operators()
    return {name: REGISTRY[name].fn for name in ordered_names()}


def oracle_sql() -> dict[str, str]:
    import hyperloglog_pyspark_spark as pkg

    pkg.load_all_operators()
    return {
        name: REGISTRY[name].oracle
        for name in ordered_names()
        if REGISTRY[name].oracle is not None
    }
