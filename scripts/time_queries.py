"""Isolated per-query timing for optimization work (guide §1.1/§1.4).

Usage: python scripts/time_queries.py [--action noop|count] [--reps N] q [q...]
Times each named query REPS times with the chosen action on
$SPARK_GRAFT_SF_DIR (default sf0.1) and prints min/median per query.
``noop`` (df.write.format("noop")) computes every column of every row —
use it to time the computation itself; ``count`` matches the bench's
methodology. One warm, untimed build+action runs first per query so
fixture materialization and codegen are excluded.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    action = "noop"
    reps = 3
    names = []
    i = 0
    while i < len(args):
        if args[i] == "--action":
            action = args[i + 1]; i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1]); i += 2
        else:
            names.append(args[i]); i += 1

    import __spark_entry__ as entrymod

    unknown = [n for n in names if n not in entrymod.REGISTRY]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from drill_spark.session import get_spark

    spark = get_spark("time_queries", cores=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    qs = entrymod.queries()

    def run(df):
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
        else:
            df.count()

    for name in names:
        spark.sparkContext.setJobDescription(f"warm:{name}")
        try:
            run(qs[name](spark, sf_dir))
        except Exception as e:
            print(f"{name}: ERROR {e}")
            continue
        samples = []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"timed:{name}#{r}")
            t0 = time.time()
            run(qs[name](spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        samples_sorted = sorted(samples)
        print(f"{name}: min={samples_sorted[0]} "
              f"med={samples_sorted[len(samples_sorted) // 2]} all={samples}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
