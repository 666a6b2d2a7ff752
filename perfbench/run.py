"""Validation-engine benchmark: one process, closed loop, one client.

    python3 perfbench/run.py [--workload NAME|all] [--seed N] [--seconds S]
                             [--trace 0|1] [--smoke] [--record-golden]

Each workload starts its own driver JVM, builds its inputs from
``--seed`` (untimed), runs two untimed warm-up ops, then runs ops back to
back for ``--seconds``, with a fixed yardstick job timed between them,
and checks every op's output. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` splits the seconds over a traced (Spark event log plus
span wrappers) and an untraced phase and prints the per-layer metrics
of the traced ops. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
GOLDEN = os.path.join(HERE, "golden.json")

DEFAULT_SEED = 42
# clips of the suite tables; scale factors of drift_tabular's tables
# (sf0.01: 60k lineitem rows; sf0.003: 3k events). The DuckDB oracle of
# streaming_traces is a recursive CTE whose cost grows with the square
# of the events (5 s at 3k, 27 s at 10k, 560 s at 100k), so events stay
# small; 3k still lets Page-Hinkley raise alarms on every seed tried.
SIZES = {
    "full": {"clips": 500, "lineitem_sf": 0.01, "events_sf": 0.003},
    "smoke": {"clips": 200, "lineitem_sf": 0.001, "events_sf": 0.0005},
}
# fixed-work pure-JVM job (bench.py's calibration, scaled to this run):
# it moves only with host contention, not with the library's code
CALIBRATION_ROWS = 2_000_000_000
# the yardstick job timed between ops: its rows (about 1 s on 4 cores)
# and its untimed runs before the window (its first runs in a JVM are
# slower). After each op it runs twice and only the second is timed: the
# first runs 20-40% slower while the op's aftermath settles. One timed
# run varies by 10-15% from the next, the median of a run's 3-4 by about
# 4% from one JVM to the next.
YARDSTICK_ROWS = 400_000
YARDSTICK_WARMUP = 2
# untimed ops before the window: the first is the cold one that setup_s
# counts; the JIT still speeds the next up by 10-20%, so it is untimed too
WARMUP_OPS = 2
# the bounded metrics of the result line. The others are printed beside
# them: wall times of ops move with the load other guests put on the
# host (a 2.5x swing within minutes on a 4-CPU guest), the JVM's peak
# varies 1.3-3.3 GB from run to run under session.py's 12g heap cap, and
# failed_frac is 0 when correct.
END_TO_END = ("op_rel_p50", "setup_s")
UNITS = {"op_rel_p50": "ratio", "op_p50_s": "s", "rows_per_s": "rows/s",
         "yardstick_p50_s": "s", "setup_s": "s", "peak_rss_mb": "MB", "failed_frac": "ratio"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", default="all")
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs, one op per workload, traced")
    p.add_argument("--record-golden", action="store_true",
                   help="store this run's output digests as the golden ones")
    return p.parse_args(argv)


def isolate_environment() -> None:
    """Keep every file Spark, Python and the JVM write inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def start_session(cores: int, event_log: str | None = None):
    from menelaus_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, shuffle_partitions=cores, app_name="perfbench",
                     extra_conf=conf)


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    return _vm_hwm_mb(spark.sparkContext._gateway.proc.pid) + _vm_hwm_mb("self")


def reset_peak_rss(spark) -> None:
    """Restart both peaks from the current resident memory."""
    for pid in (spark.sparkContext._gateway.proc.pid, "self"):
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


_TICK = os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def yardstick_s(spark, cores: int) -> float:
    """Wall time of a fixed pure-PySpark job with no library code: a
    grouped-map pandas UDF (Arrow, Python workers) and a shuffle
    aggregation over ``spark.range``, both collected. It is timed
    between ops, so it sees the same host contention as its neighbours."""
    import pandas as pd

    def per_key(pdf):
        return pd.DataFrame({"k": [pdf.k.iloc[0]], "n": [len(pdf)], "s": [float(pdf.v.sum())]})

    t0 = time.perf_counter()
    df = spark.range(0, YARDSTICK_ROWS, 1, cores).selectExpr("id % 101 AS k", "id * 7 % 1000 AS v")
    df.groupBy("k").applyInPandas(per_key, "k long, n long, s double").collect()
    df.groupBy("k").agg({"v": "sum", "*": "count"}).collect()
    return time.perf_counter() - t0


def calibration_s(spark, cores: int) -> float:
    t0 = time.perf_counter()
    # bit_xor, not sum: ANSI mode overflows a long sum over large ids
    spark.range(0, CALIBRATION_ROWS, 1, cores).selectExpr("bit_xor(id)").collect()
    return time.perf_counter() - t0


def shutdown(spark) -> None:
    """Stop the session, then the JVM (and with it Spark's Python
    workers), and wait for it to exit. The next ``start_session``
    launches a new JVM."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


class Runner:
    """Runs ops of one workload and checks each output."""

    def __init__(self, wl, golden: str | None):
        self.wl = wl
        self.golden = golden
        self.reference = None
        self.ops: list[dict] = []
        self.yardsticks: list[float] = []
        self.failures: list[str] = []

    def one(self, tracer=None, timed=True) -> dict:
        arg = self.wl.start_op()
        digest, problems = None, []
        root = tracer.span(f"op.{self.wl.name}", "bench") if tracer else contextlib.nullcontext()
        st0 = steal_s()
        t0 = time.time()
        try:
            with root:
                digest = self.wl.op(arg)
        except Exception as e:  # an op that raises is a failed op, not a crash
            problems.append(f"raised {type(e).__name__}: {str(e).splitlines()[0][:200]}")
        t1 = time.time()
        st1 = steal_s()
        self.wl.end_op(arg)
        if digest is not None:
            if self.reference is None:
                self.reference = digest
            elif digest != self.reference:
                problems.append("output digest differs from the run's first op")
            if self.golden is not None and digest != self.golden:
                problems.append("output digest differs from the golden digest")
            problems += self.wl.extra_checks(digest)
        rec = {"t0": t0, "t1": t1, "s": t1 - t0, "digest": digest, "problems": problems,
               "timed": timed, "steal_s": st1 - st0,
               "state_bytes_written": self.wl.state_bytes_written}
        self.ops.append(rec)
        self.failures += [f"op {len(self.ops)}: {p}" for p in problems]
        return rec

    def loop(self, seconds: float, tracer=None, yardstick=False) -> list[dict]:
        """Ops back to back until ``seconds`` have passed. With
        ``yardstick``, the yardstick job is also timed once before the
        first op and once after every op (after an untimed run that lets
        the op's aftermath settle); its times go to ``self.yardsticks``."""
        spark, cores = self.wl.ctx.spark, len(os.sched_getaffinity(0))
        if yardstick:
            for _ in range(YARDSTICK_WARMUP):
                yardstick_s(spark, cores)
            self.yardsticks.append(yardstick_s(spark, cores))
        start, out = time.time(), []
        while not out or time.time() - start < seconds:
            out.append(self.one(tracer))
            if yardstick:
                yardstick_s(spark, cores)
                self.yardsticks.append(yardstick_s(spark, cores))
        return out

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(bool(o["problems"]) for o in self.ops)


def end_to_end(runner: Runner, timed: list[dict], setup_s: float, rss: float) -> dict:
    durations = [o["s"] for o in timed]
    yardstick = statistics.median(runner.yardsticks)
    return {
        "op_rel_p50": statistics.median(durations) / yardstick,
        "op_p50_s": statistics.median(durations),
        "yardstick_p50_s": yardstick,
        "rows_per_s": runner.wl.rows_per_op * len(durations) / sum(durations),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
        "failed_frac": runner.failed / runner.attempted,
    }


def report_checks(runner: Runner, extra: str = "") -> None:
    name = runner.wl.name
    golden = "checked" if runner.golden else "not stored for this seed/size"
    log(f"{name}: checks: {runner.attempted - runner.failed}/{runner.attempted} ops passed "
        f"(same digest every op; golden digest {golden}{extra})")
    for f in runner.failures[:10]:
        log(f"{name}: FAILED {f}")


def run_untraced(args, names, golden, profile):
    """Each workload in its own JVM, so that ``setup_s`` is a cold start
    and ``peak_rss_mb`` is the workload's own, whatever ran before it."""
    from perfbench.workloads import WORKLOADS, Context

    import_s = time.time() - T_START
    ctx = Context(None, WORK, args.seed, SIZES[profile])
    results = {}
    spark = None
    try:
        for name in names:
            if spark is not None:
                shutdown(spark)
            t0 = time.time()
            spark = ctx.spark = start_session(args.cores)
            launch_s = time.time() - t0
            wl = WORKLOADS[name](ctx)
            t0 = time.time()
            wl.prepare()
            gen_s = time.time() - t0
            # the peaks start after fixture generation and the oracle
            reset_peak_rss(spark)
            runner = Runner(wl, golden.get(name))
            warm = runner.one(timed=False)
            for _ in range(WARMUP_OPS - 1):
                runner.one(timed=False)
            timed = runner.loop(args.seconds, yardstick=True)
            setup_s = import_s + launch_s + warm["s"]
            m = end_to_end(runner, timed, setup_s, peak_rss_mb(spark))
            results[name] = (runner, m)
            log(f"{name}: fixture generation {gen_s:.2f} s (not in setup_s); "
                f"imports {import_s:.2f} s, session start {launch_s:.2f} s, "
                f"warm-up op {warm['s']:.3f} s; "
                f"peak RSS JVM {_vm_hwm_mb(spark.sparkContext._gateway.proc.pid):.0f} MB, "
                f"Python {_vm_hwm_mb('self'):.0f} MB")
            for k, v in m.items():
                n = f" (median of {len(timed)} ops)" if k.endswith("p50_s") or k == "op_rel_p50" else ""
                log(f"{name}: {k} = {v:.6g} {UNITS[k]}{n}")
            report_checks(runner, ", resumed == one-shot verdicts" if name == "suite_append"
                          else ", every entry == DuckDB oracle" if name == "drift_tabular" else "")
        calib = calibration_s(spark, args.cores)
        log(f"calibration (bit_xor over {CALIBRATION_ROWS:.0e} ids, pure JVM): {calib:.3f} s")
        print(json.dumps({"detail": {
            "seed": args.seed, "cores": args.cores, "sizes": SIZES[profile],
            "calibration_s": round(calib, 4),
            "ops": {n: [round(o["s"], 4) for o in r.ops if o["timed"]]
                    for n, (r, _) in results.items()},
            "yardstick": {n: [round(y, 4) for y in r.yardsticks] for n, (r, _) in results.items()},
            "steal": {n: [round(o["steal_s"], 2) for o in r.ops if o["timed"]]
                      for n, (r, _) in results.items()},
        }}), flush=True)
    finally:
        if spark is not None:
            shutdown(spark)
    return results


def run_traced(args, names, golden, profile):
    """One untimed warm-up op per workload, then a traced and an
    untraced phase, each in a fresh session of the same JVM, half the
    seconds each. Only the traced session has the event log and the span
    wrappers. The JIT still warms over the run, so the overhead the
    earlier, traced phase shows is an upper estimate."""
    from perfbench import trace
    from perfbench.workloads import WORKLOADS, Context

    phases = ["traced"] if args.smoke else ["traced", "untraced"]
    event_dir = os.path.join(WORK, "eventlog")
    spark = start_session(args.cores, event_dir if args.smoke else None)
    ctx = Context(spark, WORK, args.seed, SIZES[profile])
    runners = {}
    for name in names:
        runners[name] = Runner(WORKLOADS[name](ctx), golden.get(name))
        runners[name].wl.prepare()
        if not args.smoke:
            runners[name].one(timed=False)
    tracer = trace.Tracer()
    traced, untraced = {}, {}
    try:
        for phase in phases:
            if not args.smoke:
                spark.stop()
                spark = ctx.spark = start_session(
                    args.cores, event_dir if phase == "traced" else None)
            if phase == "traced":
                ctx.tracer = tracer
                trace.install_wrappers(tracer)
            try:
                for name, runner in runners.items():
                    if args.smoke:
                        traced[name] = [runner.one(tracer)]
                        continue
                    ops = runner.loop(args.seconds / len(phases), ctx.tracer)
                    (traced if phase == "traced" else untraced)[name] = ops
            finally:
                tracer.uninstall()
                ctx.tracer = None
    finally:
        shutdown(spark)

    event_log = trace.EventLog(event_dir)
    per_layer = {}
    for name, ops in traced.items():
        runner = runners[name]
        folds = [trace.fold_op(event_log, tracer.spans, o["t0"], o["t1"], args.cores,
                               o["state_bytes_written"]) for o in ops]
        m = {k: statistics.median(f[k] for f, _ in folds) for k in folds[0][0]}
        p50 = statistics.median(o["s"] for o in ops)
        base = [o["s"] for o in untraced.get(name, [])]
        m["trace.overhead_frac"] = p50 / statistics.median(base) - 1.0 if base else 0.0
        per_layer[name] = (runner, m)
        log(f"{name}: per-layer metrics, median over {len(ops)} traced ops "
            f"(traced op_p50_s {p50:.3f} s; untraced {len(base)} ops)")
        for k, v in m.items():
            log(f"{name}:   {k:42s} {v:.6g}")
        log(f"{name}: jobs by layer (last traced op): {json.dumps(folds[-1][1], sort_keys=True)}")
        report_checks(runner)
    return per_layer


def main(argv=None) -> int:
    args = parse_args(argv)
    args.cores = len(os.sched_getaffinity(0))
    isolate_environment()
    sys.path.insert(0, ROOT)
    try:
        import menelaus_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        shutil.rmtree(WORK, ignore_errors=True)
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)} or 'all'", file=sys.stderr)
        return 2
    profile = "smoke" if args.smoke else "full"
    stored = {}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            stored = json.load(f)
    golden = (stored.get(profile, {}) if args.seed == DEFAULT_SEED and not args.record_golden
              else {})
    try:
        if args.trace or args.smoke:
            results = run_traced(args, names, golden, profile)
        else:
            results = run_untraced(args, names, golden, profile)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    if args.record_golden:
        stored.setdefault(profile, {}).update(
            {n: r.reference for n, (r, _) in results.items() if r.reference})
        with open(GOLDEN, "w") as f:
            json.dump(stored, f, indent=2, sort_keys=True)
            f.write("\n")
    attempted = sum(r.attempted for r, _ in results.values())
    failed = sum(r.failed for r, _ in results.values())
    from perfbench.trace import PER_LAYER_UNITS

    units = {**UNITS, **PER_LAYER_UNITS}
    metrics = {}
    for name, (_, m) in results.items():
        for k, v in m.items():
            if args.trace or args.smoke or k in END_TO_END:
                key = k if len(results) == 1 else f"{name}.{k}"
                metrics[key] = {"value": v, "unit": units[k]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
