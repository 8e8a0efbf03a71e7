"""Warm interleaved-rep medians for individual ``queries()`` entries.

BENCH_r{N}.json times each query ONCE in a fresh session, so a
sub-second query's reading is dominated by job-submission overhead
and host noise (e.g. url_canonicalize read 0.31s in r2 and 0.67s in
r3 with zero code change — round-3 verdict item 7 asked which it
was).  This tool answers that: each named query runs ``reps`` times
interleaved round-robin (q1,q2,...,q1,q2,... so no query owns a
quiet or noisy stretch of the host), after one untimed warm-up rep
apiece, and the per-query MEDIAN is reported.

Usage: python tools/query_timing.py [sf_dir] [reps] [query ...]
       (default: sf0.1, 5 reps, url_canonicalize)
Prints one JSON line {query: {"median_sec": m, "reps": [...]}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 5
NAMES = sys.argv[3:] or ["url_canonicalize"]


def main() -> None:
    from scalpel_ts_spark.sources.session import get_spark, tmpfs_local_dir

    tmpfs = tmpfs_local_dir()
    spark = get_spark(
        "query-timing", cores=32, shuffle_partitions=32,
        extra_conf={"spark.local.dir": tmpfs} if tmpfs else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E

    qs = E.queries()
    unknown = [n for n in NAMES if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    # one untimed warm-up rep per query: codegen + Python-worker pool
    # + parquet footer cache, excluded from every timed rep equally.
    # Consumption is .count() — identical to bench.py's, so medians
    # here are directly comparable to BENCH_r{N}.json readings
    for n in NAMES:
        qs[n](spark, SF_DIR).count()

    times: dict[str, list[float]] = {n: [] for n in NAMES}
    for _ in range(REPS):
        for n in NAMES:
            t0 = time.time()
            qs[n](spark, SF_DIR).count()
            times[n].append(round(time.time() - t0, 3))

    print(json.dumps({
        n: {"median_sec": round(statistics.median(v), 3), "reps": v}
        for n, v in times.items()
    }))
    spark.stop()


if __name__ == "__main__":
    main()
