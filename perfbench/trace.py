"""Tracing for the benchmark's traced run.

Two sources, both outside the library:

* ``Tracer`` records spans ``(name, layer, start, end, parent, thread)``
  around calls into the library's public entry points. The wrappers are
  installed from benchmark code and removed again; untraced runs never
  install them.
* ``EventLog`` folds Spark's own event log (stdlib ``json`` only): jobs,
  stages, task metrics and the SQL metrics of every plan node. Spark work
  is attributed to a layer by the action's call site (``file:line``, which
  PySpark records for every action), falling back to the innermost span
  open when the job was submitted.

``fold_op`` turns one op's time window into the per-layer metrics listed
in ``perfbench/README.md``.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import sys
import threading
import time

# ---------------------------------------------------------------- spans


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "layer": layer, "start": time.time(), "end": None,
               "parent": stack[-1]["name"] if stack else None,
               "thread": threading.get_ident()}
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def patch_methods(self, cls, attrs: list[str], name: str, layer: str) -> None:
        for attr in attrs:
            fn = cls.__dict__[attr]
            self._set(cls, attr, self._wrap(fn, f"{name}.{attr}", layer))

    def patch_function(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` and every loaded library module's
        ``from module import attr`` binding of the same function."""
        fn = getattr(module, attr)
        traced = self._wrap(fn, name, layer)
        for mod in list(sys.modules.values()):
            mod_name = getattr(mod, "__name__", "") or ""
            if not (mod_name.startswith("menelaus_spark") or mod_name == "__spark_entry__"):
                continue
            if mod.__dict__.get(attr) is fn:
                self._set(mod, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the public entry points each layer exposes."""
    import __spark_entry__  # noqa: F401  (load it so its bindings get patched)
    from menelaus_spark import runner, state
    from menelaus_spark.checks import hdm, kdqtree
    from menelaus_spark.operators import audio_dedup, clusters, histograms
    from menelaus_spark.streaming import detectors

    tracer.patch_methods(runner.ValidationSuite, ["run"], "runner.ValidationSuite", "runner")
    tracer.patch_methods(
        state.CheckpointManifest,
        ["__init__", "completed_keys", "last_states", "replayed_verdicts",
         "append", "violations_dir"],
        "state.CheckpointManifest", "state")
    tracer.patch_methods(
        kdqtree.KdqTreeBatch,
        ["set_reference", "update", "install_reference", "observe_counts",
         "build_tree_from_sample", "tree_frame", "get_state", "set_state"],
        "checks.kdqtree", "checks")
    tracer.patch_methods(
        hdm.HDM, ["set_reference", "update", "reset", "get_state", "set_state"],
        "checks.hdm", "checks")
    for attr in ("salted_count", "salted_weighted_count"):
        tracer.patch_function(histograms, attr, f"operators.histograms.{attr}", "operators")
    for attr in ("audio_shingles", "audio_neardup_pairs"):
        tracer.patch_function(audio_dedup, attr, f"operators.audio_dedup.{attr}", "operators")
    tracer.patch_function(clusters, "connected_components",
                          "operators.clusters.connected_components", "operators")
    tracer.patch_function(detectors, "apply_streaming_detector",
                          "streaming.apply_streaming_detector", "streaming")


# ------------------------------------------------------------ event log


def layer_of_path(path: str) -> str | None:
    """Library layer of a source file, or None for files outside it."""
    p = path.replace("\\", "/")
    if p.endswith("/__spark_entry__.py"):
        return "entry"
    if "/menelaus_spark/" not in p:
        return None
    head = p.rsplit("/menelaus_spark/", 1)[1].split("/")[0]
    return head[:-3] if head.endswith(".py") else head


def _call_site_path(props: dict) -> str | None:
    short = props.get("callSite.short") or ""
    if " at " not in short:
        return None
    return short.split(" at ", 1)[1].rsplit(":", 1)[0]


def _walk(node, out):
    out.append(node)
    for child in node.get("children", []):
        _walk(child, out)
    return out


class EventLog:
    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        self.stage_tasks: dict[int, list[dict]] = {}
        self.exec_start: dict[int, float] = {}
        self.exec_nodes: dict[int, dict[int, dict]] = {}  # exec -> acc id -> node
        self.exec_text: dict[int, list[str]] = {}  # exec -> every node's string
        self.accum: dict[int, int] = {}
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0, "end": None,
                "stages": e["Stage IDs"], "site": _call_site_path(props),
                "exec": int(exec_id) if exec_id is not None else None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            self.stage_tasks.setdefault(e["Stage ID"], []).append({
                "type": e["Task Type"], "metrics": e.get("Task Metrics") or {},
            })
            for acc in info.get("Accumulables", []):
                if acc.get("Metadata") == "sql":
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0) + int(acc["Update"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.accum[acc_id] = self.accum.get(acc_id, 0) + int(value)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"):
            exec_id = e["executionId"]
            if "time" in e:
                self.exec_start[exec_id] = e["time"] / 1000.0
            nodes = self.exec_nodes.setdefault(exec_id, {})
            text = self.exec_text.setdefault(exec_id, [])
            for node in _walk(e["sparkPlanInfo"], []):
                text.append(node["simpleString"])
                for m in node.get("metrics", []):
                    nodes[m["accumulatorId"]] = node

    def node_metric(self, node: dict, name: str) -> int | None:
        for m in node.get("metrics", []):
            if m["name"] == name:
                return self.accum.get(m["accumulatorId"], 0)
        return None

    def executions_in(self, t0: float, t1: float) -> list[tuple[int, list[dict]]]:
        """Plan nodes of each SQL execution started in [t0, t1]. A node
        is listed once, under the first execution that carries it, however
        many plan versions (AQE updates) or later executions (reading its
        cached output) repeat it: nodes are identified by their metrics'
        accumulator ids."""
        out, seen = [], set()
        for exec_id in sorted(self.exec_start):
            if not t0 <= self.exec_start[exec_id] <= t1:
                continue
            nodes = []
            for node in self.exec_nodes.get(exec_id, {}).values():
                key = min(m["accumulatorId"] for m in node["metrics"])
                if key not in seen:
                    seen.add(key)
                    nodes.append(node)
            out.append((exec_id, nodes))
        return out


# ----------------------------------------------------------- intervals


def _union(intervals):
    merged = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return merged


def _length(intervals) -> float:
    return sum(b - a for a, b in _union(intervals))


def _clip(intervals, a, b):
    return [(max(x, a), min(y, b)) for x, y in intervals if y > a and x < b]


def _overlap(xs, ys) -> float:
    """Length of (union xs) ∩ (union ys)."""
    total = 0.0
    for a, b in _union(xs):
        total += _length(_clip(ys, a, b))
    return total


# --------------------------------------------------------------- fold

# every per-layer metric a traced run reports, with its unit
PER_LAYER_UNITS = {
    "runner.jobs": "count", "runner.driver_self_s": "s",
    "state.manifest_s": "s", "state.bytes_written": "bytes",
    "audio.decode_scans": "count", "audio.python_task_s": "s",
    "audio.arrow_bytes_to_python": "bytes",
    "checks.kdqtree.driver_s": "s", "checks.hdm.driver_s": "s", "checks.jobs": "count",
    "operators.histograms.stages": "count", "operators.histograms.shuffle_write_bytes": "bytes",
    "operators.audio_dedup.s": "s", "operators.clusters.rounds": "count",
    "operators.audio_dedup.pair_yield": "ratio",
    "streaming.python_task_s": "s",
    "session.jobs": "count", "session.stages": "count", "session.tasks": "count",
    "session.executor_cpu_s": "s", "session.gc_s": "s", "session.scan_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes", "session.spill_bytes": "bytes",
    "session.result_bytes": "bytes", "session.slot_idle_frac": "ratio",
    "trace.unattributed_frac": "ratio", "trace.overhead_frac": "ratio",
}

PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"


def _python_seconds(node: dict, log: EventLog) -> float:
    for m in node.get("metrics", []):
        if m["name"] == PYTHON_TIME:
            scale = 1e-9 if m.get("metricType") == "nsTiming" else 1e-3
            return log.accum.get(m["accumulatorId"], 0) * scale
    return 0.0


def _python_args(node: dict) -> str:
    """Argument list of a Python plan node: ``name(args)#id, [outputs]``."""
    text = node["simpleString"]
    return text.split("(", 1)[1].split(")#", 1)[0] if "(" in text else ""


def _rows(node: dict, log: EventLog) -> int | None:
    return log.node_metric(node, "number of output rows")


def _pair_yield(execs: list[tuple[int, list[dict]]], log: EventLog) -> float:
    """Verified ÷ candidate pairs of the near-dup verify step: the node
    (join condition or filter) that scores pairs with array_intersect,
    against the rows of its first metered input. 0 when none ran."""
    verified = candidates = 0
    for _, nodes in execs:
        for node in nodes:
            if "array_intersect" not in node["simpleString"] or not node.get("children"):
                continue
            in_rows = next((r for r in map(lambda c: _rows(c, log),
                                           _walk(node["children"][0], []))
                            if r is not None), None)
            if in_rows:
                # Spark leaves zero-valued metric updates out of the log
                verified += _rows(node, log) or 0
                candidates += in_rows
    return verified / candidates if candidates else 0.0


def _plan_metrics(execs: list[tuple[int, list[dict]]], log: EventLog) -> dict:
    out = {"decode_scans": 0, "audio_py": 0.0, "audio_sent": 0, "stream_py": 0.0,
           "hist_stages": 0, "hist_bytes": 0}
    for exec_id, nodes in execs:
        # salted_count's salt (pmod(xxhash64(partition id,
        # monotonically_increasing_id), n)) marks a histogram plan
        salted = any("monotonically_increasing_id" in t for t in log.exec_text[exec_id])
        for node in nodes:
            name = node["nodeName"]
            if _rows(node, log) and log.node_metric(node, PYTHON_TIME) is not None:
                if name.startswith(("FlatMapGroups", "FlatMapCoGroups")):
                    out["stream_py"] += _python_seconds(node, log)
                elif "bytes#" in _python_args(node):
                    # a pass that ships the payload column to a decode kernel
                    out["decode_scans"] += 1
                    out["audio_py"] += _python_seconds(node, log)
                    out["audio_sent"] += log.node_metric(node, PYTHON_SENT) or 0
            if salted and name == "Exchange":
                written = log.node_metric(node, "shuffle bytes written") or 0
                if written:
                    out["hist_stages"] += 1
                    out["hist_bytes"] += written
    return out


def fold_op(log: EventLog, spans: list[dict], t0: float, t1: float, cores: int,
            state_bytes_written: int) -> tuple[dict[str, float], dict[str, int]]:
    """Per-layer metrics of the op that ran in [t0, t1], and its job
    count per layer."""
    wall = t1 - t0
    op_spans = [s for s in spans if t0 <= s["start"] <= t1 and s["layer"] != "bench"]
    jobs = [j for j in log.jobs.values() if t0 <= j["submit"] <= t1]
    site_of_exec = {}
    for j in jobs:
        layer = layer_of_path(j["site"]) if j["site"] else None
        if layer and j["exec"] is not None:
            site_of_exec.setdefault(j["exec"], layer)

    def innermost(t):
        open_ = [s for s in op_spans if s["start"] <= t <= s["end"]]
        return max(open_, key=lambda s: s["start"])["layer"] if open_ else None

    for j in jobs:
        j["layer"] = ((layer_of_path(j["site"]) if j["site"] else None)
                      or site_of_exec.get(j["exec"]) or innermost(j["submit"])
                      or "unattributed")
    job_iv = [(j["submit"], j["end"] or t1) for j in jobs]

    tasks = [t for j in jobs for sid in j["stages"] for t in log.stage_tasks.get(sid, [])]
    ran_stages = {sid for j in jobs for sid in j["stages"] if sid in log.stage_tasks}
    tm = [t["metrics"] for t in tasks]
    run_s = sum(m.get("Executor Run Time", 0) for m in tm) / 1e3

    def spans_named(prefix):
        return [(s["start"], s["end"]) for s in op_spans if s["name"].startswith(prefix)]

    def driver_s(prefix):
        iv = spans_named(prefix)
        return _length(iv) - _overlap(iv, job_iv)

    runner_self = 0.0
    for s in op_spans:
        if s["name"] == "runner.ValidationSuite.run":
            inner = [(o["start"], o["end"]) for o in op_spans if o is not s] + job_iv
            runner_self += (s["end"] - s["start"]) - _length(_clip(inner, s["start"], s["end"]))

    cc_spans = spans_named("operators.clusters.")
    execs = log.executions_in(t0, t1)
    plan = _plan_metrics(execs, log)

    covered = _length(_clip([(s["start"], s["end"]) for s in op_spans]
                            + [iv for j, iv in zip(jobs, job_iv) if j["layer"] != "unattributed"],
                            t0, t1))
    out = {
        "runner.jobs": sum(j["layer"] == "runner" for j in jobs),
        "runner.driver_self_s": runner_self,
        "state.manifest_s": _length(spans_named("state.")),
        "state.bytes_written": state_bytes_written,
        "audio.decode_scans": plan["decode_scans"],
        "audio.python_task_s": plan["audio_py"],
        "audio.arrow_bytes_to_python": plan["audio_sent"],
        "checks.kdqtree.driver_s": driver_s("checks.kdqtree."),
        "checks.hdm.driver_s": driver_s("checks.hdm."),
        "checks.jobs": sum(j["layer"] == "checks" for j in jobs),
        "operators.histograms.stages": plan["hist_stages"],
        "operators.histograms.shuffle_write_bytes": plan["hist_bytes"],
        "operators.audio_dedup.s": _length(spans_named("operators.audio_dedup.") + cc_spans),
        "operators.clusters.rounds": sum(
            any(a <= j["submit"] <= b for a, b in cc_spans) for j in jobs),
        "operators.audio_dedup.pair_yield": _pair_yield(execs, log),
        "streaming.python_task_s": plan["stream_py"],
        "session.jobs": len(jobs),
        "session.stages": len(ran_stages),
        "session.tasks": len(tasks),
        "session.executor_cpu_s": sum(m.get("Executor CPU Time", 0) for m in tm) / 1e9,
        "session.gc_s": sum(m.get("JVM GC Time", 0) for m in tm) / 1e3,
        "session.scan_bytes": sum((m.get("Input Metrics") or {}).get("Bytes Read", 0) for m in tm),
        "session.shuffle_write_bytes": sum(
            (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for m in tm),
        "session.spill_bytes": sum(
            m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for m in tm),
        "session.result_bytes": sum(
            t["metrics"].get("Result Size", 0) for t in tasks if t["type"] == "ResultTask"),
        "session.slot_idle_frac": 1.0 - run_s / (cores * wall) if wall > 0 else 0.0,
        "trace.unattributed_frac": 1.0 - covered / wall if wall > 0 else 0.0,
    }
    layers: dict[str, int] = {}
    for j in jobs:
        layers[j["layer"]] = layers.get(j["layer"], 0) + 1
    return out, layers
