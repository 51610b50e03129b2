"""One-pass Spark-side timing of the FULL registry at a given SF —
the r10 scale-evidence sweep (VERDICT r09 task 7).

Unlike validate_registry (which also runs each query's DuckDB oracle
— brute-force BY DESIGN for the dedup family, so it measures the
oracle, not the engine), this times only the Spark plan, one
warm pass then one timed pass per query, and prints name/seconds/
rows.  ANSI mode means integer overflow at the larger SF throws
instead of wrapping, so a clean sweep is also a correctness signal.

Usage: python scripts/sf1_scale_timing.py [sf_dir] [-excludeprefix ...]
                                          [--names-file FILE]

--names-file limits the sweep to the newline-separated query names in
FILE (the r11 back-half resume path: names not yet present in the r10
sweep logs).

The session is the engine's own (session.get_spark): SPARK_GRAFT_CPUS
sets the core count and shuffle width, and the driver heap is sized
from the host (SPARK_DRIVER_MEMORY overrides).
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")

import __spark_entry__ as entry
from tp_airflow_gtfs_snowflake_spark.session import get_spark


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.scratch/sf1"
    args = sys.argv[2:]
    only: set[str] | None = None
    if "--names-file" in args:
        i = args.index("--names-file")
        only = set(open(args[i + 1]).read().split())
        args = args[:i] + args[i + 2:]
    excludes = [a[1:] for a in args if a.startswith("-")]
    spark = get_spark("sf1_scale_timing")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    failures = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        if any(name.startswith(p) for p in excludes):
            print(f"{name:44s}   SKIP (excluded)", flush=True)
            continue
        try:
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
            fn(spark, sf_dir).count()            # warm (codegen etc.)
            t0 = time.perf_counter()
            n = fn(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            print(f"{name:44s} {dt:8.2f}s  {n} rows", flush=True)
        except Exception:
            failures.append(name)
            print(f"{name:44s}   FAIL\n"
                  + traceback.format_exc(limit=3), flush=True)
    print(f"\ndone: {len(failures)} FAIL: {failures}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
