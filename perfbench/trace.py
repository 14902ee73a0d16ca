"""Per-layer tracing for the benchmark's traced runs.

Three sources, all installed from the benchmark's side:

- spans from timing wrappers around each layer's public functions, patched
  where their callers look them up (name, start, end, parent; self time is
  the span minus the part of it its children cover);
- Catalyst phase times from ``QueryExecution.tracker()`` read by a wrapper
  on DataFrame actions;
- Spark's event log (jobs, stages, task metrics, Python/Arrow SQL metrics),
  parsed after the session stops and assigned to operations by job
  submission time.

``Tracer.uninstall`` removes the wrappers again, so one process can time
traced and untraced operations.
"""

from __future__ import annotations

import glob
import importlib
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

# (module, attribute, span name): layer functions, patched where the code
# that calls them resolves the name at call time (the CLI imports
# get_spark and load_contract inside main, from these modules)
LAYER_FUNCS = [
    ("datacontract_cli_spark.session", "get_spark", "session.start"),
    ("datacontract_cli_spark.model.contract", "load_contract", "model.load"),
    ("datacontract_cli_spark.engine.executor", "compile_checks", "checks.compile"),
    ("datacontract_cli_spark.engine.executor", "missing_condition", "engine.predicates.build"),
    ("datacontract_cli_spark.engine.executor", "invalid_condition", "engine.predicates.build"),
    ("datacontract_cli_spark.engine.predicates", "valid_condition", "engine.predicates.build"),
    ("datacontract_cli_spark.operators.drift", "psi", "operators.drift.psi"),
    ("datacontract_cli_spark.operators.drift", "ks_statistic", "operators.drift.ks"),
    ("datacontract_cli_spark.operators.refintegrity", "orphan_count",
     "operators.refintegrity.orphan_count"),
    ("datacontract_cli_spark.operators.dedup", "minhash_near_duplicates",
     "operators.dedup.minhash"),
    ("datacontract_cli_spark.operators.dedup", "connected_components", "operators.dedup.cc"),
    ("datacontract_cli_spark.operators.contamination", "contaminated_docs",
     "operators.contamination"),
    ("datacontract_cli_spark.output.writers", "write_json", "output.write_json"),
]

# span name -> per-layer metric holding its wall time per operation
SPAN_METRIC = {
    "session.start": "session.start_s",
    "model.load": "model.load_s",
    "checks.compile": "checks.compile_s",
    "engine.predicates.build": "engine.predicates.build_s",
    "engine.executor.test": "engine.executor.test_s",
    "operators.drift.psi": "operators.drift.psi_s",
    "operators.drift.ks": "operators.drift.ks_s",
    "operators.refintegrity.orphan_count": "operators.refintegrity.orphan_count_s",
    "operators.dedup.minhash": "operators.dedup.minhash_s",
    "operators.dedup.cc": "operators.dedup.cc_s",
    "operators.contamination": "operators.contamination.s",
    "pipeline.write": "pipeline.write_s",
    "output.write_json": "output.write_json_s",
}

# every per-layer metric a traced run reports, in print order
PER_LAYER = [
    ("session.start_s", "s"), ("model.load_s", "s"), ("checks.compile_s", "s"),
    ("checks.n_specs", "count"), ("engine.predicates.build_s", "s"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"), ("engine.executor.test_s", "s"),
    ("engine.executor.driver_self_s", "s"), ("spark.actions", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("exec.run_ms", "ms"), ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"),
    ("exec.task_wait_ms", "ms"), ("exec.input_bytes", "bytes"),
    ("exec.shuffle_write_bytes", "bytes"), ("exec.shuffle_read_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.result_bytes", "bytes"),
    ("exec.python_bytes_out", "bytes"), ("exec.python_bytes_in", "bytes"),
    ("exec.core_util", "ratio"),
    ("operators.drift.psi_s", "s"), ("operators.drift.ks_s", "s"),
    ("operators.refintegrity.orphan_count_s", "s"),
    ("operators.dedup.minhash_s", "s"), ("operators.dedup.cc_s", "s"),
    ("operators.dedup.pairs", "count"), ("operators.contamination.s", "s"),
    ("pipeline.write_s", "s"), ("pipeline.survivors", "count"),
    ("output.write_json_s", "s"), ("trace.overhead_s", "s"),
]

_EXEC_KEYS = ["exec.run_ms", "exec.cpu_ms", "exec.gc_ms", "exec.task_wait_ms",
              "exec.input_bytes", "exec.shuffle_write_bytes",
              "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.result_bytes",
              "exec.python_bytes_out", "exec.python_bytes_in"]


class Tracer:
    """Spans kept in memory as dicts (id, name, parent, start, end). A span
    opened on a thread with no open span — the executor's overlapped-job
    pool — takes the current operation as its parent."""

    def __init__(self):
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._counts: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_id: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    # -- spans and counters ---------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            rec = {"id": len(self.spans), "name": name,
                   "parent": stack[-1] if stack else self._op_id,
                   "start": time.perf_counter(), "end": None}
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, name: str):
        """One timed operation: the root span its layers nest under. Keeps
        the operation's counters and the wall-clock window used to assign
        Spark jobs to it."""
        wall0 = time.time()
        self._counts = {}
        with self.span(name) as rec:
            self._op_id = rec["id"]
            try:
                yield rec
            finally:
                self._op_id = None
        self.ops.append({"span": rec["id"], "t0_ms": wall0 * 1000,
                         "t1_ms": time.time() * 1000, "counts": self._counts})

    def add(self, counter: str, value: float) -> None:
        with self._lock:
            self._counts[counter] = self._counts.get(counter, 0) + value

    # -- wrappers ---------------------------------------------------------
    def _patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def _timed(self, fn, name: str, on_result=None):
        def wrapper(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out
        return wrapper

    def install(self) -> None:
        from datacontract_cli_spark.engine.executor import SparkContractEngine
        from datacontract_cli_spark.operators import dedup

        for mod_name, attr, name in LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            on_result = None
            if name == "checks.compile":
                def on_result(specs):
                    self.add("checks.n_specs", len(specs))
            self._patch(mod, attr, self._timed(getattr(mod, attr), name, on_result))
        # the dedup stage persists its candidate pairs, so counting them
        # here re-reads that cache rather than recomputing the LSH join
        cc = dedup.connected_components

        def cc_counting(pairs, *args, **kwargs):
            self.add("operators.dedup.pairs", pairs.count())
            return cc(pairs, *args, **kwargs)

        dedup.connected_components = cc_counting
        self._patch(SparkContractEngine, "test",
                    self._timed(SparkContractEngine.test, "engine.executor.test"))
        self._install_actions()

    def _install_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        def action(fn, name: str, phases: bool):
            def wrapper(df, *args, **kwargs):
                with self.span("spark.action:" + name):
                    out = fn(df, *args, **kwargs)
                self.add("spark.actions", 1)
                if phases:
                    self._read_phases(df)
                return out
            return wrapper

        for name in ("collect", "count", "toPandas", "localCheckpoint"):
            self._patch(DataFrame, name, action(getattr(DataFrame, name), name, True))
        for name in ("save", "parquet"):
            self._patch(DataFrameWriter, name,
                        action(getattr(DataFrameWriter, name), "write", False))

    def _read_phases(self, df) -> None:
        # DataFrame.count plans an internal aggregate whose optimization and
        # planning this Dataset's tracker does not see; collect is complete
        try:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                summary = phases.get(phase)
                if summary.isDefined():
                    self.add(f"catalyst.{phase}_ms", summary.get().durationMs())
        except Exception:  # noqa: BLE001 — a missing tracker only loses a reading
            pass

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- reduction --------------------------------------------------------
    def op_layers(self, op: dict) -> tuple[dict[str, float], dict[str, float]]:
        """(wall, self) seconds per layer span inside one operation. Wall
        counts only the outermost span of a layer (nested predicate builds
        count once); self subtracts the time child spans cover. The key
        ``spark.actions_s`` holds the union of time inside Spark actions."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        wall: dict[str, float] = {}
        selfs: dict[str, float] = {}
        actions = []

        def walk(span: dict, inside: frozenset) -> None:
            name = span["name"].split(":")[0]
            dur = span["end"] - span["start"]
            children = kids.get(span["id"], [])
            selfs[name] = selfs.get(name, 0.0) + dur - _union(
                [(c["start"], c["end"]) for c in children])
            if name == "spark.action":
                actions.append((span["start"], span["end"]))
            elif name not in inside:
                wall[name] = wall.get(name, 0.0) + dur
            for child in children:
                walk(child, inside | {name})

        walk(self.spans[op["span"]], frozenset())
        wall["spark.actions_s"] = _union(actions)
        return wall, selfs


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

def parse_event_log(event_dir: str, app_id: str) -> dict:
    """Jobs (submission time, stage ids), completed stages and task-end
    events from the event log of application ``app_id``."""
    jobs, stages, tasks = {}, set(), []
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if os.path.isdir(path) or app_id not in os.path.basename(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"t_ms": ev["Submission Time"],
                                          "stages": ev["Stage IDs"]}
                elif kind == "SparkListenerStageCompleted":
                    stages.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


def _python_metric(name: str) -> str | None:
    n = name.lower()
    if "sent to python" in n:
        return "exec.python_bytes_out"
    if "returned from python" in n:
        return "exec.python_bytes_in"
    return None


def op_exec_metrics(log: dict, t0_ms: float, t1_ms: float,
                    wall_s: float, cores: int) -> dict[str, float]:
    """Event-log metrics of the jobs submitted inside one operation. Stages
    skipped because their shuffle output was reused are not counted."""
    job_ids = [j for j, v in log["jobs"].items() if t0_ms <= v["t_ms"] <= t1_ms]
    stage_ids = {s for j in job_ids for s in log["jobs"][j]["stages"]
                 if s in log["stages"]}
    m = dict.fromkeys(_EXEC_KEYS, 0.0)
    n_tasks = 0
    for ev in log["tasks"]:
        if ev["Stage ID"] not in stage_ids:
            continue
        n_tasks += 1
        info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
        run = tm.get("Executor Run Time", 0)
        m["exec.run_ms"] += run
        m["exec.cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        m["exec.gc_ms"] += tm.get("JVM GC Time", 0)
        # scheduler delay, as the Spark UI computes it
        m["exec.task_wait_ms"] += max(0, info["Finish Time"] - info["Launch Time"]
                                      - run - tm.get("Executor Deserialize Time", 0)
                                      - tm.get("Result Serialization Time", 0)
                                      - info.get("Getting Result Time", 0))
        m["exec.input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
        m["exec.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0)
        sr = tm.get("Shuffle Read Metrics", {})
        m["exec.shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                         + sr.get("Local Bytes Read", 0))
        m["exec.spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                  + tm.get("Disk Bytes Spilled", 0))
        m["exec.result_bytes"] += tm.get("Result Size", 0)
        for acc in info.get("Accumulables", []):
            key = _python_metric(str(acc.get("Name", "")))
            if key:
                try:
                    m[key] += float(acc.get("Update", 0))
                except (TypeError, ValueError):
                    pass
    m["spark.jobs"] = len(job_ids)
    m["spark.stages"] = len(stage_ids)
    m["spark.tasks"] = n_tasks
    m["exec.core_util"] = m["exec.run_ms"] / 1000.0 / (wall_s * cores) if wall_s else 0.0
    return m


def op_metrics(tracer: Tracer, op: dict, log: dict | None, cores: int) -> dict:
    """Every per-layer reading of one traced operation."""
    wall, _ = tracer.op_layers(op)
    vals = {metric: wall.get(span, 0.0) for span, metric in SPAN_METRIC.items()}
    test_s = vals["engine.executor.test_s"]
    vals["engine.executor.driver_self_s"] = (
        max(0.0, test_s - wall["spark.actions_s"]) if test_s else 0.0)
    vals.update(op["counts"])
    if log is not None:
        span = tracer.spans[op["span"]]
        vals.update(op_exec_metrics(log, op["t0_ms"], op["t1_ms"],
                                    span["end"] - span["start"], cores))
    return vals


def median_table(per_op: list[dict]) -> dict[str, float]:
    """Median over operations of every per-layer metric (0 when a layer
    never ran on this workload)."""
    out = {}
    for name, _unit in PER_LAYER:
        vals = [v[name] for v in per_op if name in v]
        out[name] = statistics.median(vals) if vals else 0.0
    return out


def self_times(tracer: Tracer) -> dict[str, float]:
    """Median self time per span name over the traced operations."""
    per: dict[str, list[float]] = {}
    for op in tracer.ops:
        for name, v in tracer.op_layers(op)[1].items():
            per.setdefault(name, []).append(v)
    return {k: statistics.median(v) for k, v in sorted(per.items())}
