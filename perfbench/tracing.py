"""Tracing helpers: py4j round-trip counting, process-tree memory, spans,
and the rollup of Spark's event log into one row per op and layer.

Nothing here starts Spark; the rollup reads a finished event log with
the stdlib ``json`` module (the benchmark turns compression off), so it
can be tested on a fixture.
"""

from __future__ import annotations

import json
import os
import re
import time
from contextlib import contextmanager

MB = 1 << 20

# Physical operators that hand rows to Python workers.
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_PLAN_NODE = re.compile(r"^[\s:|+-]*([A-Za-z][A-Za-z0-9]*)\b.*\(\d+\)$")


class Py4jCounter:
    """Counts py4j commands sent from this process, by wrapping
    ``GatewayClient.send_command`` (the JavaClient used by pinned-thread
    mode inherits it). Installed only in traced runs."""

    def __init__(self) -> None:
        self.count = 0
        self._orig = None

    def install(self) -> None:
        from py4j.java_gateway import GatewayClient

        orig = self._orig = GatewayClient.send_command
        counter = self

        def send_command(client, command, *args, **kwargs):
            counter.count += 1
            return orig(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._orig
            self._orig = None


class Spans:
    """In-memory op spans (name, start, end, attributes such as the pass
    and the build/exec split), written out with the run's results when
    the benchmark ends."""

    def __init__(self) -> None:
        self.rows: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        row = {"id": len(self.rows), "name": name, **attrs}
        self.rows.append(row)
        row["start"] = time.perf_counter() - self._t0
        try:
            yield row
        finally:
            row["end"] = time.perf_counter() - self._t0


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid`` (the JVM starts Spark's Python
    daemon from a thread other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(p) for p in f.read().split())
        except OSError:
            pass
    return out


def process_tree() -> list[int]:
    """This process and all its live descendants."""
    todo, seen = [os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb() -> dict[int, float]:
    """Resident memory of each live process in the tree, as its
    proportional set size: a page shared by n processes (PySpark's
    workers are forked from one daemon) counts 1/n in each, so the sum
    counts every resident page once."""
    return {p: _pss_kb(p) / 1024.0 for p in process_tree()}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is running (reaping our own children);
    returns those still alive at the timeout."""
    deadline = time.monotonic() + timeout
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Event-log rollup
# ---------------------------------------------------------------------------

def read_event_log(path: str) -> list[dict]:
    """Events of one application's uncompressed log: a single file, or a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files."""
    files = [path]
    if os.path.isdir(path):
        names = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n)
                 for n in sorted(names, key=lambda n: int(n.split("_")[1]))]
    events = []
    for fn in files:
        with open(fn) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def plan_nodes(plan_description: str) -> list[str]:
    """Operator names of a physical plan's tree header (the part of
    ``physicalPlanDescription`` before the numbered node details)."""
    head = plan_description.split("\n\n", 1)[0]
    out = []
    for line in head.splitlines()[1:]:
        m = _PLAN_NODE.match(line)
        if m:
            out.append(m.group(1))
    return out


def _tag(props: dict | None) -> str | None:
    return (props or {}).get("spark.job.description")


def parse_tag(tag: str | None) -> tuple[str, str, str, str] | None:
    """'<workload>/<op>/<pass>/<phase>' → its four parts, else None."""
    parts = (tag or "").split("/")
    return tuple(parts) if len(parts) == 4 and all(parts) else None


def _new_exec() -> dict:
    return {"jobs": 0, "stages": 0, "one_task_stages": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "task_overhead_s": 0.0, "shuffle_read_mb": 0.0,
            "shuffle_write_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
            "python_sent_mb": 0.0, "python_returned_mb": 0.0,
            "python_nodes": 0}


def rollup_events(events: list[dict]) -> tuple[dict, list[str]]:
    """Aggregate Spark metrics per job tag.

    Returns ({tag: counters}, [descriptions of jobs whose tag does not
    parse]). Stages and tasks are attributed through the stage's
    submission properties, so a stage reused from an earlier job (skipped)
    is counted once, under the job that ran it."""
    by_tag: dict[str, dict] = {}
    untagged: list[str] = []
    stage_tag: dict[int, str] = {}
    exec_tag: dict[int, str] = {}
    plans: dict[int, str] = {}

    def acc(tag: str) -> dict:
        return by_tag.setdefault(tag, _new_exec())

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            tag = _tag(props)
            if parse_tag(tag) is None:
                untagged.append(str(tag))
                continue
            acc(tag)["jobs"] += 1
            xid = props.get("spark.sql.execution.id")
            if xid is not None:
                exec_tag.setdefault(int(xid), tag)
        elif kind == "SparkListenerStageSubmitted":
            tag = _tag(e.get("Properties"))
            if parse_tag(tag) is not None:
                stage_tag[e["Stage Info"]["Stage ID"]] = tag
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            tag = stage_tag.get(info["Stage ID"])
            if tag is not None:
                a = acc(tag)
                a["stages"] += 1
                a["one_task_stages"] += info.get("Number of Tasks") == 1
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(e.get("Stage ID"))
            if tag is None:
                continue
            a = acc(tag)
            info, m = e.get("Task Info") or {}, e.get("Task Metrics") or {}
            a["tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            a["executor_run_s"] += run_ms / 1e3
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            wall_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            a["task_overhead_s"] += max(0, wall_ms - run_ms) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0)
                                     + sr.get("Local Bytes Read", 0)) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
            a["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            a["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            for u in info.get("Accumulables") or []:
                name = u.get("Name")
                if name == "data sent to Python workers":
                    a["python_sent_mb"] += int(u.get("Update", 0)) / MB
                elif name == "data returned from Python workers":
                    a["python_returned_mb"] += int(u.get("Update", 0)) / MB
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            # the last (adaptive) plan of an execution is the one that ran
            plans[int(e["executionId"])] = e.get("physicalPlanDescription", "")
    for xid, plan in plans.items():
        tag = exec_tag.get(xid)
        if tag is not None:
            acc(tag)["python_nodes"] += sum(
                1 for n in plan_nodes(plan) if PYTHON_NODE.search(n)
            )
    return by_tag, untagged


def layer_rows(by_tag: dict, spans: list[dict]) -> list[dict]:
    """One row per op and layer — the per-query, per-layer profile.

    ``spans`` are the benchmark's op spans (name = '<op>', attributes
    pass, phase durations and counters). The Spark counters of a tag
    '<workload>/<op>/<pass>/<phase>' go to layer ``registry`` for the
    build phase and to ``exec`` otherwise; Python-boundary counters go to
    ``functions``, scan input to ``sources``."""
    rows = []
    for s in spans:
        if s.get("kind") != "op":
            continue
        base = {"op": s["name"], "pass": s["pass"]}
        tags = {t: c for t, c in by_tag.items()
                if parse_tag(t)[1:3] == (s["name"], str(s["pass"]))}
        build = [c for t, c in tags.items() if parse_tag(t)[3] == "build"]
        run = [c for t, c in tags.items() if parse_tag(t)[3] != "build"]

        def total(cs: list[dict], key: str) -> float:
            return round(sum(c[key] for c in cs), 6)

        rows.append({**base, "layer": "registry",
                     "build_s": s.get("build_s", 0.0),
                     "build_py4j": s.get("build_py4j", 0),
                     "build_jobs": s.get("build_jobs", 0),
                     "plan_memo_hit": s.get("plan_memo_hit", False),
                     "persisted_rdds": s.get("persisted_rdds", 0),
                     "cached_mb": s.get("cached_mb", 0.0),
                     "spark_build_jobs": total(build, "jobs")})
        rows.append({**base, "layer": "exec", "wall_s": s.get("exec_s", 0.0),
                     **{k: total(run + build, k) for k in (
                         "jobs", "stages", "one_task_stages", "tasks",
                         "executor_run_s", "executor_cpu_s", "gc_s",
                         "task_overhead_s", "shuffle_read_mb",
                         "shuffle_write_mb", "spill_mb")}})
        rows.append({**base, "layer": "sources",
                     "scan_input_mb": total(run + build, "input_mb")})
        rows.append({**base, "layer": "functions",
                     **{k: total(run + build, k) for k in (
                         "python_nodes", "python_sent_mb",
                         "python_returned_mb")}})
        if "api" in s:
            rows.append({**base, "layer": "api", **s["api"]})
    return rows
