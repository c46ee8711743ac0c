"""Output checks shared by the benchmark and the digest-pinning tool."""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS_PATH = os.path.join(HERE, "digests.json")

# Allowed |relative error| of an estimate, in units of the sketch's
# standard error 1.04/sqrt(m). At 3 units, about 1 check in 1,500 fails
# on correct code (measured over 300 seeds of the sketch_api streams);
# no check failed at 4.
ERROR_SIGMAS = 4.0


def digest(pdf) -> dict:
    """Row count plus a hash of the order-insensitive canonical rows — the
    same canonicalization the oracle tests compare (tests/helpers.py)."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    from tests.helpers import canon_rows

    rows = canon_rows(pdf)
    h = hashlib.sha256()
    h.update(json.dumps(sorted(pdf.columns)).encode())
    for row in rows:
        h.update(repr(row).encode() + b"\n")
    return {"rows": len(rows), "sha256": h.hexdigest()}


def load_digests() -> dict:
    with open(DIGESTS_PATH) as f:
        return json.load(f)


def sketch_error_bound(k: int) -> float:
    m = 2 ** math.ceil(math.log2(k))
    return ERROR_SIGMAS * 1.04 / math.sqrt(m)
