"""Count the driver's fixed cost per query: py4j round trips and Spark
jobs for each queries() entry and, optionally, one suite_cold op
(``ValidationSuite.run`` over a seeded clip table, as perfbench runs it).

Every entry runs twice in one session. Pass 1 is cold (it infers each
table's schema and compiles the plans); pass 2 is the warm op the
benchmark times, and its counts are the ones to compare. py4j round
trips are counted by wrapping ``py4j.clientserver.ClientServerConnection
.send_command``, so they include calls from every driver thread. They
are split into calls and proxy releases: py4j tells the JVM that a
Python proxy was freed from a finalizer thread, at no fixed time, so
releases land in whichever window is open and only their per-pass
total is meaningful. Jobs are the new job ids with no job group in
Spark's status store, which also covers the suite's driver-thread
passes.

Usage: python tools/driver_calls.py [name ...] [--sf-dir DIR] [--seed N]
           [--suite] [--clips N]

Without ``--sf-dir`` the entries read drift_tabular's seeded tables
(``perfbench/tabular.py``, full size), written to a temporary directory.
The default entries are drift_tabular's eight.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import py4j.clientserver as py4j_cs  # noqa: E402
from py4j import protocol as proto  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from menelaus_spark import get_spark  # noqa: E402
from perfbench import tabular, workloads  # noqa: E402
from perfbench.run import SIZES  # noqa: E402

_SEND = py4j_cs.ClientServerConnection.send_command
_RELEASE = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME
_calls, _releases = [0], [0]


def _counted_send(self, command):
    if command.startswith(_RELEASE):
        _releases[0] += 1
    else:
        _calls[0] += 1
    return _SEND(self, command)


def _job_ids(sc) -> set[int]:
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def measure(spark, fn) -> tuple[int, int, int, float]:
    """py4j calls, py4j proxy releases, Spark jobs and seconds of ``fn()``."""
    before = _job_ids(spark.sparkContext)
    c0, r0, t0 = _calls[0], _releases[0], time.perf_counter()
    fn()
    s = time.perf_counter() - t0
    return (_calls[0] - c0, _releases[0] - r0,
            len(_job_ids(spark.sparkContext) - before), s)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("names", nargs="*", help="queries() entries (default: drift_tabular's)")
    p.add_argument("--sf-dir", help="directory of the parquet tables the entries read")
    p.add_argument("--seed", type=int, default=42, help="seed of the generated tables")
    p.add_argument("--suite", action="store_true", help="also run one suite_cold op")
    p.add_argument("--clips", type=int, default=SIZES["full"]["clips"],
                   help="rows of the suite's clip table")
    args = p.parse_args()

    spark = get_spark(cores=4, shuffle_partitions=4, app_name="driver_calls")
    qs = entrymod.queries()
    names = args.names or list(tabular.ENTRIES)
    unknown = [n for n in names if n not in qs]
    if unknown:
        p.error(f"unknown entries: {unknown}")
    work = tempfile.mkdtemp(prefix="driver_calls_")
    try:
        sf_dir = args.sf_dir
        if sf_dir is None:
            sf_dir = os.path.join(work, "tabular")
            size = SIZES["full"]
            tabular.write_tables(sf_dir, args.seed, size["lineitem_sf"], size["events_sf"])
        suite = None
        if args.suite:
            ctx = workloads.Context(spark, work, args.seed, {"clips": args.clips})
            suite = workloads.SuiteCold(ctx)
            suite.prepare()

        py4j_cs.ClientServerConnection.send_command = _counted_send
        rows = {}
        for _ in range(2):
            for name in names:
                rows.setdefault(name, []).append(
                    measure(spark, lambda n=name: qs[n](spark, sf_dir).collect()))
            # entries pin projections they never release: start each
            # pass from the same cache state, as perfbench does
            spark.catalog.clearCache()
            if suite is not None:
                ckpt = suite.start_op()
                rows.setdefault("suite_cold op", []).append(
                    measure(spark, lambda: suite.op(ckpt)))
                suite.end_op(ckpt)
    finally:
        py4j_cs.ClientServerConnection.send_command = _SEND
        shutil.rmtree(work, ignore_errors=True)

    cols = ("calls", "rel", "jobs", "s")
    print(f"{'':28s}{'pass 1 (cold)':>30s}   {'pass 2 (warm)':>30s}")
    print(f"{'':28s}" + "   ".join(" ".join(f"{c:>7s}" for c in cols) for _ in range(2)))

    def line(label, cold, warm):
        print(f"{label:28s}" + "   ".join(
            f"{p[0]:7d} {p[1]:7d} {p[2]:7d} {p[3]:7.2f}" for p in (cold, warm)))

    for name in names:
        line(name, *rows[name])
    total = [tuple(sum(rows[n][i][k] for n in names) for k in range(4)) for i in (0, 1)]
    line(f"entries total ({len(names)})", *total)
    if suite is not None:
        line("suite_cold op", *rows["suite_cold op"])
    spark.stop()


if __name__ == "__main__":
    main()
