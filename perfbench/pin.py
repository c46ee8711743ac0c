#!/usr/bin/env python3
"""Pin the mix queries' output digests on the benchmark's tables.

    python3 perfbench/pin.py

Generates the tables (datagen.py), runs every mix query of spec.json on
Spark, checks its output against the query's DuckDB oracle exactly as
the oracle tests do (tests/helpers.py), and only then writes the row
count and canonical hash to digests.json. Re-run after changing the
generator, the scale factor or the mix; a query that disagrees with its
oracle is reported and not pinned.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import checks
import datagen
import run
import workloads


def main() -> int:
    spec = workloads.load_spec()
    work_dir = os.path.join(run.ROOT, ".perfbench_tmp", f"pin-{os.getpid()}")
    run.configure_environment(work_dir, trace=False)
    sys.path.insert(0, run.ROOT)
    data_dir = datagen.ensure(run.ROOT, spec["scale_factor"])

    from hyperloglog_pyspark_spark import registry
    from hyperloglog_pyspark_spark.session import get_spark
    from tests.helpers import canon_rows, duck_con

    spark = get_spark("perfbench-pin")
    registry.queries()
    registry.EAGER_CACHES = True
    con = duck_con(data_dir)
    digests, bad = {}, []
    for name in spec["mix"]:
        q = registry.REGISTRY[name]
        got = q.fn(spark, data_dir).toPandas()
        want = con.execute(q.oracle).df()
        same = (sorted(got.columns) == sorted(want.columns)
                and canon_rows(got) == canon_rows(want))
        print(f"{name}: rows={len(got)} oracle={'match' if same else 'MISMATCH'}")
        if same:
            digests[name] = checks.digest(got)
        else:
            bad.append(name)
    spark.stop()
    shutil.rmtree(work_dir, ignore_errors=True)
    if bad:
        print(f"not pinned, oracle mismatch: {bad}", file=sys.stderr)
        return 1
    with open(checks.DIGESTS_PATH, "w") as f:
        json.dump({"scale_factor": spec["scale_factor"],
                   "data_version": datagen.version(),
                   "digests": digests}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
