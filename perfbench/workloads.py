"""Seeded inputs for the benchmark's workloads: op order and sketch streams.

Pure Python and NumPy, no Spark: everything here is a function of the
``--seed`` and ``spec.json``, so the self-tests can check determinism
without starting a JVM.
"""

from __future__ import annotations

import json
import os

import numpy as np

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def pass_orders(ops: list[str], n_passes: int, seed: int) -> list[list[str]]:
    """``n_passes`` seed-chosen permutations of ``ops``, chained so that no
    op runs twice in a row, across pass boundaries too."""
    rng = np.random.default_rng([seed, 1])
    out: list[list[str]] = []
    prev = None
    for _ in range(n_passes):
        order = [ops[i] for i in rng.permutation(len(ops))]
        if len(order) > 1 and order[0] == prev:
            j = int(rng.integers(1, len(order)))
            order[0], order[j] = order[j], order[0]
        out.append(order)
        prev = order[-1]
    return out


def _distinct_values(rng: np.random.Generator, d: int, types: str) -> list:
    """``d`` values, pairwise different under both Python equality and
    ``str()``: floats are ints + 0.5 and strings carry an 's' prefix."""
    ints = rng.choice(10**9, size=d, replace=False)
    kinds = {"int": 0, "float": 1, "str": 2}
    kind = (rng.integers(0, 3, d) if types == "mixed"
            else np.full(d, kinds[types]))
    out: list = []
    for v, k in zip(ints.tolist(), kind.tolist()):
        out.append(v if k == 0 else v + 0.5 if k == 1 else f"s{v:x}")
    return out


def stream(rng: np.random.Generator, n: int, share: float, types: str) -> tuple[list, int]:
    """``n`` items holding exactly ``round(n * share)`` distinct values, each
    at least once, in random order. Returns (items, exact distinct count)."""
    d = max(1, round(n * share))
    values = _distinct_values(rng, d, types)
    idx = np.concatenate([np.arange(d), rng.integers(0, d, n - d)])
    rng.shuffle(idx)
    return [values[i] for i in idx.tolist()], d


def sketch_ops(spec: dict, seed: int) -> dict[str, dict]:
    """The sketch_api op set for ``seed``: shapes from spec.json, contents
    from the seed. Global ops split their stream into ``seqs`` sequences
    (the reference's list-of-lists input); grouped ops spread their stream
    over ``groups`` group keys."""
    rng = np.random.default_rng([seed, 2])
    ops: dict[str, dict] = {}
    for i, shape in enumerate(spec["sketch_api"]["global"]):
        items, d = stream(rng, shape["n"], shape["distinct"], shape["types"])
        cuts = np.linspace(0, len(items), shape["seqs"] + 1).astype(int)
        seqs = [items[a:b] for a, b in zip(cuts[:-1], cuts[1:])]
        ops[f"global{i}"] = {"kind": "global", "k": shape["k"], "seqs": seqs,
                             "items": items, "exact": d}
    for i, shape in enumerate(spec["sketch_api"]["grouped"]):
        items, _ = stream(rng, shape["n"], shape["distinct"], shape["types"])
        groups = rng.integers(0, shape["groups"], len(items)).tolist()
        ops[f"grouped{i}"] = {"kind": "grouped", "k": shape["k"],
                              "rows": [(g, str(v)) for g, v in zip(groups, items)]}
    return ops
