#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py SET_A SET_B
    python3 perfbench/compare.py SET_A          # one set: spread only

A result set is a directory of run records as run.py writes them to
``.perfbench_out/`` (copy that directory aside to keep a set). For each
workload and metric it prints each side's median and quartiles over the
runs (seeds) in the set, the spread (quartile distance / median), the
change of the median from A to B, and, per workload, the tracing
overhead: the traced runs' pass time over the untraced runs' pass time,
and the ambient conditions of the untraced runs (bench.py's calibration
time and the share of CPU time the host gave to other machines).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load_set(path: str) -> dict[tuple[str, int], list[dict]]:
    """{(workload, trace): [run records]} of one result directory."""
    out: dict[tuple[str, int], list[dict]] = {}
    for fn in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(fn) as f:
            rec = json.load(f)
        out.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    return out


def summary(values: list[float]) -> dict:
    med = statistics.median(values)
    if len(values) > 1:
        q1, _, q3 = statistics.quantiles(values, n=4)
    else:
        q1 = q3 = med
    spread = (q3 - q1) / med if med else 0.0
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": spread}


def metric_values(records: list[dict]) -> dict[str, list[float]]:
    vals: dict[str, list[float]] = {}
    for rec in records:
        for name, m in rec["metrics"].items():
            vals.setdefault(name, []).append(m["value"])
    return vals


def tracing_overhead(sets: dict, workload: str) -> float | None:
    plain = metric_values(sets.get((workload, 0), [])).get("pass_s")
    traced = metric_values(sets.get((workload, 1), [])).get("trace.pass_s")
    if not plain or not traced:
        return None
    return statistics.median(traced) / statistics.median(plain) - 1


def report(a: dict, b: dict | None) -> list[str]:
    lines = []
    keys = sorted(set(a) | set(b or {}))
    for workload, trace in keys:
        kind = "per-layer (traced)" if trace else "end-to-end"
        lines.append(f"== {workload} {kind}")
        va = metric_values(a.get((workload, trace), []))
        vb = metric_values(b.get((workload, trace), [])) if b is not None else {}
        for name in sorted(set(va) | set(vb)):
            row = f"  {name:38s}"
            sa = summary(va[name]) if name in va else None
            sb = summary(vb[name]) if name in vb else None
            for s in (sa, sb):
                if s is not None:
                    row += (f" | med {s['median']:.6g} q1 {s['q1']:.6g} "
                            f"q3 {s['q3']:.6g} spread {s['spread']:.3f} n={s['n']}")
            if sa and sb and sa["median"]:
                row += f" | delta {sb['median'] / sa['median'] - 1:+.3f}"
            lines.append(row)
    for workload in sorted({w for w, _ in keys}):
        for label, s in (("A", a), ("B", b)):
            if s is None:
                continue
            ov = tracing_overhead(s, workload)
            if ov is not None:
                lines.append(f"tracing overhead {workload} [{label}]: {ov:+.3f}")
            plain = s.get((workload, 0), [])
            cal = [r["calibration_s"]["start"] for r in plain if "calibration_s" in r]
            steal = [r["cpu_steal_share"] for r in plain if "cpu_steal_share" in r]
            if cal and steal:
                lines.append(f"ambient {workload} [{label}]: calibration_s median "
                             f"{statistics.median(cal):.4g}, cpu_steal_share median "
                             f"{statistics.median(steal):.3f} (range {min(steal):.3f}-"
                             f"{max(steal):.3f})")
    return lines


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load_set(p) for p in argv]
    print("\n".join(report(sets[0], sets[1] if len(sets) > 1 else None)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
