#!/usr/bin/env python3
"""The engine benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload mix_rotate --seed 1 --seconds 15 --trace 0

Run from anywhere inside a checkout; the engine is imported from the
directory above this one. Workloads (see spec.json for why each exists):

- ``mix_rotate``: a long-lived session serving the query mix in
  seed-chosen order, no query twice in a row;
- ``sketch_api``: the reference drop-in api and the grouped hll64 sketch
  over seed-generated streams.

One untimed pass runs first and doubles as warm-up and correctness check
(mix outputs against pinned digests, sketch estimates against the local
sketch). Whole passes are then timed until ``--seconds`` have elapsed
(at least ``min_passes``, spec.json).
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, job tags and py4j counting and prints the per-layer
metrics. The last stdout line is one JSON object; the full record
(per-op times, spans, per-op per-layer rows, calibration) goes to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DRIVER_MEMORY = "2g"

sys.path.insert(0, HERE)
import checks  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user time
    return sum(fields[:8]), fields[7]


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``pct`` in 0..100)."""
    s = sorted(values)
    pos = (len(s) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


class Run:
    """State of one benchmark run: the session, the tagger, the records."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 spec: dict, work_dir: str) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.spec, self.work_dir = trace, spec, work_dir
        self.wspec = spec["workloads"][workload]
        self.spans = tracing.Spans()
        self.py4j = tracing.Py4jCounter()
        self.failures: list[str] = []
        self.attempted = 0
        self.harness_s = 0.0  # checking/calibration time, not set-up
        self.layer: dict[str, float] = {}
        self.meta: dict = {}
        self.passes: list[dict] = []
        self.peak_mem_mb = 0.0
        self.peak_worker_mem_mb = 0.0

    # -- session ----------------------------------------------------------
    def start(self) -> None:
        t0 = time.perf_counter()
        from hyperloglog_pyspark_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        t1 = time.perf_counter()
        from hyperloglog_pyspark_spark import registry

        registry.queries()  # imports every operator module (registration)
        registry.EAGER_CACHES = True  # this process executes what it builds
        self.registry = registry
        t2 = time.perf_counter()
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.load_operators_s"] = t2 - t1
        self._dag = self.sc._jsc.sc().dagScheduler()
        if self.trace:
            self.py4j.install()

    def stop(self) -> list[int]:
        """Stop Spark and the JVM; wait for every child process to end."""
        from pyspark import SparkContext

        self.py4j.uninstall()
        pids = tracing.process_tree()[1:]
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        return tracing.wait_gone(pids, timeout=30)

    @contextmanager
    def phase(self, op: str, pass_id, phase: str):
        """Tag the Spark jobs started inside as
        ``<workload>/<op>/<pass>/<phase>`` (traced runs only). The tag is
        cleared on exit, so a job started outside every phase stays
        untagged and fails the run."""
        if not self.trace:
            yield
            return
        self.sc.setJobDescription(f"{self.workload}/{op}/{pass_id}/{phase}")
        try:
            yield
        finally:
            self.sc.setJobDescription(None)

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    def calibration(self, when: str) -> None:
        import bench

        t0 = time.perf_counter()
        with self.phase("calibration", when, "exec"):
            cal = bench.calibration(self.spark)
        self.meta.setdefault("calibration_s", {})[when] = cal
        self.harness_s += time.perf_counter() - t0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, what: str, op):
        """Run one op; an exception is printed and counted as a failure."""
        self.attempted += 1
        try:
            return op()
        except Exception:
            traceback.print_exc()
            self.fail(f"{what} raised")
            return None

    def sample_memory(self) -> float:
        """Take one memory sample of the process tree; returns the seconds
        it took, which the caller keeps out of the pass time."""
        t0 = time.perf_counter()
        pss = tracing.tree_pss_mb()
        workers = sum(mb for pid, mb in pss.items() if pid not in self.own_pids)
        self.peak_mem_mb = max(self.peak_mem_mb, sum(pss.values()))
        self.peak_worker_mem_mb = max(self.peak_worker_mem_mb, workers)
        return time.perf_counter() - t0

    # -- timed loop -------------------------------------------------------
    def timed_passes(self, ops: list[str], run_op) -> float:
        """The check pass, then whole timed passes until ``seconds`` have
        elapsed (at least ``min_passes``); returns the process age at the
        first timed op."""
        from pyspark import SparkContext

        orders = workloads.pass_orders(ops, 1 + 200, self.seed)
        self.check_order, timed = orders[0], orders[1:]
        self.run_check_pass()
        # the driver and the JVM; every other process in the tree is a
        # Python worker (or the daemon that forks them)
        self.own_pids = {os.getpid(), SparkContext._gateway.proc.pid}
        self.calibration("start")
        self.setup_harness_s = self.harness_s
        first_op_age = process_age_s()
        ticks0 = cpu_ticks()
        t_end = time.perf_counter() + self.seconds
        for i, order in enumerate(timed):
            if i >= self.wspec["min_passes"] and time.perf_counter() >= t_end:
                break
            rec = {"ops": [], "wall_s": 0.0}
            sampling_s = 0.0
            t0 = time.perf_counter()
            for op in order:
                op_rec = self.attempt(f"{op} in pass {i}", lambda: run_op(op, i))
                if op_rec is not None:
                    rec["ops"].append(op_rec)
                sampling_s += self.sample_memory()
            rec["wall_s"] = time.perf_counter() - t0 - sampling_s
            self.passes.append(rec)
        # CPU time the hypervisor gave to other machines during the timed
        # passes: a run slowed by a busy host carries its own evidence
        total, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        self.meta["cpu_steal_share"] = steal / total if total else 0.0
        self.calibration("end")
        return first_op_age

    # -- results ----------------------------------------------------------
    def end_to_end(self, first_op_age: float, setup_harness_s: float) -> dict:
        lat = [o["latency_s"] for p in self.passes for o in p["ops"]]
        return {
            "setup_s": first_op_age - setup_harness_s,
            "pass_s": statistics.median(p["wall_s"] for p in self.passes),
            "op_p50_s": statistics.median(lat),
            "op_tail_s": percentile(lat, self.wspec["op_tail_pct"]),
            "peak_rss_mb": self.peak_mem_mb,
        }

    def per_pass(self, key: str) -> list[float]:
        return [sum(o.get(key, 0) for o in p["ops"]) for p in self.passes]


# ---------------------------------------------------------------------------
# Query mix (mix_rotate)
# ---------------------------------------------------------------------------

class MixRun(Run):
    def prepare(self, data_dir: str) -> None:
        self.data_dir = data_dir
        self.mix = list(self.spec["mix"])
        pins = checks.load_digests()
        if pins.get("data_version") != datagen.version() or pins.get(
            "scale_factor"
        ) != self.spec["scale_factor"]:
            raise SystemExit("perfbench: digests.json was pinned for other "
                             "tables; re-run perfbench/pin.py")
        self.pins = pins["digests"]
        self.last_df: dict = {}

    def invoke(self, name: str, pass_id, sink) -> dict:
        """One op: build, execute. Returns its record."""
        rec: dict = {"op": name}
        with self.spans.span(name, kind="op", **{"pass": pass_id}) as span:
            jobs0, calls0 = self.jobs_started(), self.py4j.count
            t0 = time.perf_counter()
            with self.phase(name, pass_id, "build"):
                df = self.registry.REGISTRY[name].fn(self.spark, self.data_dir)
            t1 = time.perf_counter()
            rec["build_jobs"] = self.jobs_started() - jobs0
            rec["build_py4j"] = self.py4j.count - calls0
            rec["plan_memo_hit"] = int(df is self.last_df.get(name))
            self.last_df[name] = df
            with self.phase(name, pass_id, "exec"):
                out = sink(df)
            t2 = time.perf_counter()
            rec.update(build_s=t1 - t0, exec_s=t2 - t1, latency_s=t2 - t0)
            if self.trace:
                rec.update(self.cache_state())
            span.update(rec)
        rec["out"] = out
        return rec

    def cache_state(self) -> dict:
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        cached = sum(i.memSize() + i.diskSize() for i in infos)
        return {"persisted_rdds": jsc.getPersistentRDDs().size(),
                "cached_mb": cached / tracing.MB}

    def run_check_pass(self) -> None:
        self.check_ops: list[dict] = []
        for name in self.check_order:
            rec = self.attempt(f"{name} in the check pass",
                               lambda: self.invoke(name, "check", _collect))
            if rec is None:
                continue
            t0 = time.perf_counter()
            got = checks.digest(rec.pop("out"))
            self.check_ops.append(rec)
            if got != self.pins.get(name):
                self.fail(f"{name} output {got} != pinned {self.pins.get(name)}")
            self.harness_s += time.perf_counter() - t0

    def run_op(self, name: str, pass_id: int) -> dict:
        rec = self.invoke(name, pass_id, _noop)
        rec.pop("out")
        return rec

    def run(self) -> float:
        return self.timed_passes(self.mix, self.run_op)

    def traced_extras(self) -> None:
        """The public load_table per table: after a full release, then again."""
        from hyperloglog_pyspark_spark.sources.catalog import TABLES, load_table

        self.registry.release_caches()
        cold = warm = 0.0
        for t in TABLES:
            with self.phase("load_table", "extra", "build"):
                t0 = time.perf_counter()
                load_table(self.spark, self.data_dir, t)
                t1 = time.perf_counter()
                load_table(self.spark, self.data_dir, t)
            cold += t1 - t0
            warm += time.perf_counter() - t1
        self.layer["sources.load_table_cold_s"] = cold
        self.layer["sources.load_table_warm_s"] = warm


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _collect(df):
    return df.toPandas()


# ---------------------------------------------------------------------------
# Sketch api (sketch_api)
# ---------------------------------------------------------------------------

class SketchRun(Run):
    def prepare(self, data_dir: str) -> None:
        self.ops = workloads.sketch_ops(self.spec, self.seed)
        self.expected: dict[str, object] = {}
        for name, op in self.ops.items():
            if op["kind"] == "grouped":
                op["df"] = self.spark.createDataFrame(op["rows"], "g long, v string")

    def global_op(self, name: str, pass_id) -> dict:
        from hyperloglog_pyspark_spark import api

        op = self.ops[name]
        with self.spans.span(name, kind="op", **{"pass": pass_id}) as span:
            t0 = time.perf_counter()
            with self.phase(name, pass_id, "parallel"):
                est = api.estimate_distinct_elements_parallel(op["seqs"], op["k"], self.spark)
            t1 = time.perf_counter()
            with self.phase(name, pass_id, "accuracy"):
                acc = api.calculate_empirical_accuracy(op["items"], est, self.spark)
            t2 = time.perf_counter()
            rec = {"op": name, "latency_s": t2 - t0, "exec_s": t2 - t0,
                   "api": {"parallel_s": t1 - t0, "accuracy_s": t2 - t1}}
            span.update(rec)
        rec["out"] = (est, acc)
        return rec

    def grouped_op(self, name: str, pass_id) -> dict:
        from hyperloglog_pyspark_spark.functions.hll64_spark import (
            hll64_estimate_col,
            hll64_sketch,
        )

        op = self.ops[name]
        with self.spans.span(name, kind="op", **{"pass": pass_id}) as span:
            t0 = time.perf_counter()
            with self.phase(name, pass_id, "exec"):
                rows = hll64_estimate_col(hll64_sketch(op["df"], ["g"], "v", op["k"])).collect()
            t1 = time.perf_counter()
            rec = {"op": name, "latency_s": t1 - t0, "exec_s": t1 - t0}
            span.update(rec)
        rec["out"] = {r["g"]: r["estimate"] for r in rows}
        return rec

    def invoke(self, name: str, pass_id) -> dict:
        kind = self.ops[name]["kind"]
        return (self.global_op if kind == "global" else self.grouped_op)(name, pass_id)

    def run_check_pass(self) -> None:
        from hyperloglog_pyspark_spark import api
        from hyperloglog_pyspark_spark.functions import hll64

        for name in self.check_order:
            op = self.ops[name]
            rec = self.attempt(f"{name} in the check pass",
                               lambda: self.invoke(name, "check"))
            if rec is None:
                continue
            out = rec["out"]
            t0 = time.perf_counter()
            if op["kind"] == "global":
                est, acc = out
                local = api.estimate_distinct_elements(op["items"], op["k"])
                d = op["exact"]
                if est != local:
                    self.fail(f"{name}: parallel {est!r} != local {local!r}")
                if acc != (d - est) / d:
                    self.fail(f"{name}: accuracy {acc!r} != exact {(d - est) / d!r}")
                if abs(acc) > checks.sketch_error_bound(op["k"]):
                    self.fail(f"{name}: relative error {acc:.4f} out of bound")
            else:
                p = hll64.p_from_k(op["k"])
                regs: dict = {}
                for g, v in op["rows"]:
                    regs.setdefault(g, []).append(v)
                want = {g: hll64.estimate(hll64.update_registers(
                    hll64.empty_registers(p), vs, p)) for g, vs in regs.items()}
                if out != want:
                    self.fail(f"{name}: grouped estimates differ from local sketches")
            self.expected[name] = out
            self.harness_s += time.perf_counter() - t0

    def run_op(self, name: str, pass_id: int) -> dict:
        rec = self.invoke(name, pass_id)
        if rec.pop("out") != self.expected.get(name):
            self.fail(f"{name} in pass {pass_id}: result changed")
        return rec

    def run(self) -> float:
        return self.timed_passes(list(self.ops), self.run_op)

    def traced_extras(self) -> None:
        """Direct calls on the seed's streams: the hll64 register update and
        estimate (functions), and the local api estimate (api)."""
        from hyperloglog_pyspark_spark import api
        from hyperloglog_pyspark_spark.functions import hll64

        elems, upd_s, est_us, local_s = 0, 0.0, [], []
        for op in self.ops.values():
            if op["kind"] != "global":
                continue
            p = hll64.p_from_k(op["k"])
            regs = hll64.empty_registers(p)
            t0 = time.perf_counter()
            hll64.update_registers(regs, op["items"], p)
            t1 = time.perf_counter()
            hll64.estimate(regs)
            t2 = time.perf_counter()
            api.estimate_distinct_elements(op["items"], op["k"])
            t3 = time.perf_counter()
            elems += len(op["items"])
            upd_s += t1 - t0
            est_us.append((t2 - t1) * 1e6)
            local_s.append(t3 - t2)
        self.layer["functions.hll64_update_elems_per_s"] = elems / upd_s
        self.layer["functions.hll64_estimate_us"] = statistics.median(est_us)
        self.layer["api.local_s"] = statistics.median(local_s)


WORKLOADS = {"mix_rotate": MixRun, "sketch_api": SketchRun}


# ---------------------------------------------------------------------------
# Per-layer metrics from the traced run
# ---------------------------------------------------------------------------

def per_layer(run: Run, by_tag: dict) -> dict:
    med = statistics.median
    layer = dict.fromkeys(run.spec["layer_map"], 0.0)
    layer.update(run.layer)
    if isinstance(run, MixRun):
        layer["registry.build_s"] = med(run.per_pass("build_s"))
        layer["registry.build_py4j"] = med(run.per_pass("build_py4j"))
        layer["registry.build_jobs"] = med(run.per_pass("build_jobs"))
        layer["registry.plan_memo_hits"] = med(run.per_pass("plan_memo_hit"))
        for key in ("build_s", "build_py4j", "build_jobs"):
            layer[f"registry.first_{key}"] = sum(o[key] for o in run.check_ops)
        ops = [o for p in run.passes for o in p["ops"]]
        layer["registry.persisted_rdds"] = max(o["persisted_rdds"] for o in ops)
        layer["registry.cached_mb"] = max(o["cached_mb"] for o in ops)
    else:
        ops = [o for p in run.passes for o in p["ops"] if "api" in o]
        layer["api.parallel_s"] = med(o["api"]["parallel_s"] for o in ops)
        layer["api.accuracy_s"] = med(o["api"]["accuracy_s"] for o in ops)
    layer["exec.wall_s"] = med(run.per_pass("exec_s"))
    sums: list[dict] = []
    for i in range(len(run.passes)):
        acc: dict = {}
        for tag, counters in by_tag.items():
            if tracing.parse_tag(tag)[2] == str(i):
                for k, v in counters.items():
                    acc[k] = acc.get(k, 0) + v
        sums.append(acc)
    for key in ("jobs", "stages", "one_task_stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "task_overhead_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        layer[f"exec.{key}"] = med(s.get(key, 0) for s in sums)
    layer["sources.scan_input_mb"] = med(s.get("input_mb", 0) for s in sums)
    for key in ("python_nodes", "python_sent_mb", "python_returned_mb"):
        layer[f"functions.{key}"] = med(s.get(key, 0) for s in sums)
    layer["functions.worker_mem_mb"] = run.peak_worker_mem_mb
    layer["trace.pass_s"] = med(p["wall_s"] for p in run.passes)
    return layer


# ---------------------------------------------------------------------------

def configure_environment(work_dir: str, trace: bool) -> None:
    """Keep every file Spark and the engine write inside the checkout and
    pin the core count; must run before pyspark launches the JVM."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    confs = {
        "spark.local.dir": os.path.join(work_dir, "local"),
        # UsePerfData off: HotSpot would write /tmp/hsperfdata_<user>.
        # A fixed heap (-Xms = the driver memory), resident from the start
        # (AlwaysPreTouch): a growing heap made peak RSS vary by 20% between
        # runs of the same workload, and a fixed one still did by 15% on
        # sketch_api, where how much of it the collector had touched
        # depended on when it ran. Peak RSS then moves with the memory
        # outside the heap: JVM off-heap, the Python driver and workers.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
            "-XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def parse_args(argv: list[str], bench: dict) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = workloads.load_spec()
    args = parse_args(argv, bench)
    if not os.path.isdir(os.path.join(ROOT, "hyperloglog_pyspark_spark")):
        print(f"perfbench: no engine package next to {HERE}", file=sys.stderr)
        return 2
    work_dir = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    configure_environment(work_dir, bool(args.trace))
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    data_dir = datagen.ensure(ROOT, spec["scale_factor"])
    data_s = time.perf_counter() - t0

    run = WORKLOADS[args.workload](args.workload, args.seed, args.seconds,
                                   bool(args.trace), spec, work_dir)
    left: list[int] = []
    try:
        run.start()
        run.prepare(data_dir)
        first_op_age = run.run()
        if args.trace:
            run.traced_extras()
    finally:
        if hasattr(run, "spark"):
            left = run.stop()
    if left:
        run.fail(f"child processes still running after stop: {left}")

    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                    "scale_factor": spec["scale_factor"], "data_s": data_s,
                    **run.meta}
    if args.trace:
        log_dir = os.path.join(work_dir, "eventlog")
        (log,) = os.listdir(log_dir)
        by_tag, untagged = tracing.rollup_events(
            tracing.read_event_log(os.path.join(log_dir, log)))
        if untagged:
            run.fail(f"{len(untagged)} Spark jobs without a workload/op tag")
        values = per_layer(run, by_tag)
        wanted = bench["per_layer"]
        record["profile"] = tracing.layer_rows(by_tag, run.spans.rows)
        record["untagged_jobs"] = untagged
    else:
        values = run.end_to_end(first_op_age, data_s + run.setup_harness_s)
        wanted = bench["end_to_end"]
    shutil.rmtree(work_dir, ignore_errors=True)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in wanted}
    record.update(
        metrics=metrics, failures=run.failures, check_order=run.check_order,
        check_ops=getattr(run, "check_ops", []), passes=run.passes,
        spans=run.spans.rows,
        per_pass={k: run.per_pass(k) for k in (
            "plan_memo_hit", "build_jobs", "build_s", "exec_s", "latency_s")},
    )
    os.makedirs(OUT_DIR, exist_ok=True)
    out_path = os.path.join(
        OUT_DIR, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: {args.workload} seed={args.seed} passes={len(run.passes)} "
          f"calibration_s={run.meta.get('calibration_s')} "
          f"cpu_steal_share={run.meta.get('cpu_steal_share', 0):.3f} record={out_path}")
    print(json.dumps({"correct": not run.failures, "attempted": run.attempted,
                      "failed": len(run.failures), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
