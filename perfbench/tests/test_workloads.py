"""Seeded inputs: the same seed gives the same op order and streams, a
different seed changes them, and the streams have the advertised shape."""

from __future__ import annotations

import workloads

OPS = [f"q{i}" for i in range(7)]


def test_pass_orders_are_seeded():
    a = workloads.pass_orders(OPS, 20, seed=3)
    assert a == workloads.pass_orders(OPS, 20, seed=3)
    assert a != workloads.pass_orders(OPS, 20, seed=4)
    assert all(sorted(order) == sorted(OPS) for order in a)


def test_no_op_runs_twice_in_a_row():
    for seed in range(50):
        flat = [op for order in workloads.pass_orders(OPS, 10, seed) for op in order]
        assert all(x != y for x, y in zip(flat, flat[1:])), seed


def _streams(ops: dict) -> dict:
    return {k: (v.get("items"), v.get("rows"), v["k"]) for k, v in ops.items()}


def test_sketch_ops_are_seeded():
    spec = workloads.load_spec()
    a = workloads.sketch_ops(spec, 5)
    assert _streams(a) == _streams(workloads.sketch_ops(spec, 5))
    b = workloads.sketch_ops(spec, 6)
    assert list(a) == list(b)  # same op set and shapes ...
    assert all(len(a[k]["items"] or a[k]["rows"]) == len(b[k]["items"] or b[k]["rows"])
               for k in a if a[k]["kind"] == "global")
    assert _streams(a) != _streams(b)  # ... other contents


def test_streams_have_exact_distinct_counts():
    spec = workloads.load_spec()
    ops = workloads.sketch_ops(spec, 11)
    for shape, (name, op) in zip(spec["sketch_api"]["global"], ops.items()):
        items = op["items"]
        assert len(items) == shape["n"]
        assert len(op["seqs"]) == shape["seqs"]
        assert [x for seq in op["seqs"] for x in seq] == items
        # raw-object equality (the accuracy oracle) and str() equality
        # (the sketch) must see the same number of distinct values
        assert len(set(items)) == len({str(x) for x in items}) == op["exact"]
        assert op["exact"] == max(1, round(shape["n"] * shape["distinct"]))
