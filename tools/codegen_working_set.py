"""Measure the engine's whole-stage-codegen working set: run queries()
entries twice in one session and count Janino compilations per pass
(Spark's ``CodegenMetrics.METRIC_COMPILATION_TIME`` histogram).

Pass 1 compiles every distinct generated unit the entries need: that
count is the working set ``spark.sql.codegen.cache.maxEntries`` must
hold (``menelaus_spark/session.py``). Pass 2 runs the same entries
again, so every compile it reports is a recompile: the cache evicted
the unit, or the generated source differs from run to run.

Usage: python tools/codegen_working_set.py sf_dir [name ...]
           [--cache-entries N] [--per-entry]

``--cache-entries`` overrides the session's cache size, to measure
the working set under a cache that cannot thrash.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from menelaus_spark import get_spark  # noqa: E402


def compile_count(spark) -> int:
    """Janino compilations so far in this JVM."""
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def run_pass(spark, qs, names, sf_dir, per_entry: bool, label: str) -> int:
    total = 0
    for name in names:
        c0 = compile_count(spark)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).collect()
        n = compile_count(spark) - c0
        total += n
        if per_entry:
            print(f"{label} {name}: {n} compiles, {time.perf_counter() - t0:.2f} s")
    return total


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("sf_dir", help="directory of the test-data parquet tables")
    p.add_argument("names", nargs="*", help="queries() entries (default: all)")
    p.add_argument("--cache-entries", type=int, default=None)
    p.add_argument("--per-entry", action="store_true")
    args = p.parse_args()

    extra = ({"spark.sql.codegen.cache.maxEntries": str(args.cache_entries)}
             if args.cache_entries else None)
    spark = get_spark(cores=4, shuffle_partitions=4, app_name="codegen_working_set",
                      extra_conf=extra)
    qs = entrymod.queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        p.error(f"unknown entries: {unknown}")
    names = args.names or list(qs)
    cache = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    first = run_pass(spark, qs, names, args.sf_dir, args.per_entry, "pass1")
    second = run_pass(spark, qs, names, args.sf_dir, args.per_entry, "pass2")
    print(f"entries={len(names)} cache.maxEntries={cache}")
    print(f"pass 1 compiles (working set): {first}")
    print(f"pass 2 recompiles: {second}")
    spark.stop()


if __name__ == "__main__":
    main()
